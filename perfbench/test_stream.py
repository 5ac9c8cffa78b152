#!/usr/bin/env python3
"""Checks that the benchmark's operation stream is a pure function of
its seed.

    python3 perfbench/test_stream.py

The golden hashes pin the default seed's streams: a change to the
generator, the PRNG or the workload lists shows up here, and a later
change to the benchmark must update them on purpose.
"""
import hashlib
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

GOLDEN_SHA256 = {
    "wro_service": "d55bd660df7becc3738a3112635e6649bb941064aa686ddcb97f89230b6bf7d8",
    "raster_loops": "f3e49a447bba280d808d22777c978f75628d5b5da2bf6243a41e429a9d642148",
}


def printed_plan(workload, seed):
    return subprocess.run(
        [sys.executable, run.__file__, "--print-plan", "--workload", workload,
         "--seed", str(seed)], check=True, capture_output=True).stdout


class StreamTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes_across_processes(self):
        for w in run.WORKLOADS:
            for seed in (run.DEFAULT_SEED, run.HELD_OUT_SEED):
                self.assertEqual(printed_plan(w, seed), printed_plan(w, seed))

    def test_default_seed_matches_golden(self):
        for w, digest in GOLDEN_SHA256.items():
            got = hashlib.sha256(printed_plan(w, run.DEFAULT_SEED)).hexdigest()
            self.assertEqual(got, digest, w)

    def test_seeds_differ(self):
        for w in run.WORKLOADS:
            self.assertNotEqual(run.stream(w, run.DEFAULT_SEED),
                                run.stream(w, run.HELD_OUT_SEED))

    def test_every_pass_is_a_permutation_of_the_workload(self):
        for w, ops in run.WORKLOADS.items():
            want = sorted([f"read:{n}" for n in ops["read"]] +
                          [f"write:{n}" for n in ops["write"]])
            for p in run.stream(w, 7):
                self.assertEqual(sorted(p), want)


if __name__ == "__main__":
    unittest.main()
