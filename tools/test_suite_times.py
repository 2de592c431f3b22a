"""Unit tests of tools/suite_times.py on two fixture report files.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import tempfile
import unittest

import suite_times

GREEN = """<?xml version='1.0' encoding='UTF-8'?>
<testsuite hostname="vm" name="graft.GreenSpec" tests="2" errors="0" failures="0"
  skipped="0" time="10.5" timestamp="2026-10-20T04:00:00">
  <properties><property name="k" value="v"/></properties>
  <testcase classname="graft.GreenSpec" name="first" time="10.0"></testcase>
  <testcase classname="graft.GreenSpec" name="second" time="0.5"></testcase>
  <system-out><![CDATA[]]></system-out>
</testsuite>
"""

RED = """<?xml version='1.0' encoding='UTF-8'?>
<testsuite hostname="vm" name="graft.RedSpec" tests="3" errors="1" failures="1"
  skipped="0" time="4.0" timestamp="2026-10-20T04:00:20">
  <testcase classname="graft.RedSpec" name="passes" time="1.0"></testcase>
  <testcase classname="graft.RedSpec" name="fails" time="2.0">
    <failure message="boom" type="org.scalatest.exceptions.TestFailedException">trace</failure>
  </testcase>
  <testcase classname="graft.RedSpec" name="errors" time="1.0">
    <error message="npe" type="java.lang.NullPointerException">trace</error>
  </testcase>
</testsuite>
"""


class SuiteTimesTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        for name, body in (("TEST-graft.GreenSpec.xml", GREEN),
                           ("TEST-graft.RedSpec.xml", RED),
                           ("not-a-report.xml", "<junk/>")):
            with open(os.path.join(self.dir.name, name), "w") as f:
                f.write(body)

    def tearDown(self):
        self.dir.cleanup()

    def test_suites_tests_and_failures(self):
        t = suite_times.table(self.dir.name)
        self.assertEqual(sorted(t["suites"]), ["graft.GreenSpec", "graft.RedSpec"])
        green, red = t["suites"]["graft.GreenSpec"], t["suites"]["graft.RedSpec"]
        self.assertEqual((green["s"], green["tests"], green["failures"]), (10.5, 2, 0))
        self.assertEqual((red["s"], red["tests"], red["failures"]), (4.0, 3, 2))
        self.assertEqual(red["per_test"]["fails"], {"s": 2.0, "failed": True})
        self.assertEqual(red["per_test"]["errors"], {"s": 1.0, "failed": True})
        self.assertEqual(red["per_test"]["passes"], {"s": 1.0, "failed": False})
        self.assertEqual((t["suite_s"], t["tests"], t["failures"]), (14.5, 5, 2))
        # a timestamp is the suite's end: GreenSpec ran 03:59:49.5 to
        # 04:00:00, RedSpec 04:00:16 to 04:00:20
        self.assertEqual(t["span_s"], 30.5)
        self.assertNotIn("sbt_total_s", t)

    def test_sbt_total_time_from_the_log(self):
        log = os.path.join(self.dir.name, "sbt.log")
        with open(log, "w") as f:
            f.write("[success] Total time: 20 s, completed\n"
                    "[info] Passed: Total 5\n"
                    "[error] Total time: 1390 s (23:10), completed Oct 20\n")
        self.assertEqual(suite_times.table(self.dir.name, log)["sbt_total_s"], 1390)

    def test_empty_dir(self):
        with tempfile.TemporaryDirectory() as empty:
            t = suite_times.table(empty)
        self.assertEqual((t["suites"], t["tests"], t["span_s"]), ({}, 0, 0.0))


if __name__ == "__main__":
    unittest.main()
