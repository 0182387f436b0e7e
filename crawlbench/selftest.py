"""Self-test of the benchmark's correctness check (no Spark needed).

    python3 crawlbench/selftest.py

A record built from the oracle's own crawl of the reference world must
pass; the same record doctored with a URL fetched in two rounds, a host
over its politeness budget, a per-host order swap or a changed
extraction text must each be rejected.
"""

from __future__ import annotations

import copy
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from crawlbench import worlds  # noqa: E402
from crawlbench.check import check_crawl  # noqa: E402

SEED = 1


def _expected() -> dict:
    wl = worlds.WORKLOADS["reference_parity"]
    world = worlds.fixtures.build_world(wl.fixture_config(SEED))
    return worlds.oracle_record(world, wl.spec, wl.rounds + 1)


class CheckRejectsDoctoredRuns(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.expected = _expected()

    def setUp(self):
        self.record = copy.deepcopy(self.expected)

    def assertRejected(self, needle: str) -> None:
        failures = check_crawl(self.record, self.expected)
        self.assertTrue(any(needle in f for f in failures), failures)

    def test_oracle_record_passes(self):
        self.assertEqual(check_crawl(self.record, self.expected), [])

    def test_url_fetched_in_two_rounds(self):
        row = next(r for r in self.record["fetch_log"] if r["status"] == "success")
        self.record["fetch_log"].append({**row, "round_id": row["round_id"] + 1})
        self.assertRejected("fetched in two rounds")

    def test_host_over_budget(self):
        host, budget = next(iter(self.expected["host_budget"].items()))
        self.record["fetch_log"] += [
            {"round_id": 1, "url": f"https://{host}/extra/{i}", "host": host, "status": "error"}
            for i in range(budget + 1)
        ]
        self.assertRejected(f"host {host} selected")

    def test_order_mismatch(self):
        host = next(h for h, urls in self.record["order_per_host"].items() if len(urls) > 1)
        urls = self.record["order_per_host"][host]
        urls[0], urls[1] = urls[1], urls[0]
        self.assertRejected("per-host order differs")

    def test_changed_text(self):
        url = next(iter(self.record["text_sha256"]))
        self.record["text_sha256"][url] = "0" * 64
        self.assertRejected("extracted text differs")


if __name__ == "__main__":
    unittest.main()
