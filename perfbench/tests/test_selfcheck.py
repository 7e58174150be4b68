"""End-to-end self-check of the benchmark: builds the program, then runs
`run.py --selfcheck` (digest order-independence, forced failures).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))
import stats  # noqa: E402


class SelfCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        res = subprocess.run([sys.executable, str(BENCH / "run.py"), "--selfcheck"],
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
        cls.code = res.returncode
        cls.stderr = res.stderr
        cls.result = json.loads(res.stdout.strip().splitlines()[-1]) if res.stdout.strip() else {}

    def test_every_check_passes(self):
        self.assertEqual(self.code, 0, self.stderr[-2000:])
        for name, ok in self.result["checks"].items():
            self.assertTrue(ok, name)

    def test_forced_failures_are_counted_named_and_untimed(self):
        ops = self.result["ops"]
        led = stats.ledger(ops)
        self.assertGreaterEqual(led["failed"], 2)
        self.assertIn("sync:full", led["failures"])
        self.assertIn("row:dedup_span", led["failures"])
        self.assertEqual(len(led["durations_ms"]), led["attempted"] - led["failed"])
        victim = self.result["victim"]
        self.assertTrue(any(victim in o["reason"] for o in ops if not o["ok"]))


if __name__ == "__main__":
    unittest.main()
