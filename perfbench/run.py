#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload sql_star --seed 1 --seconds 20 --trace 0

Builds the harness (and graft) from source on first use, runs one workload
under one seed, checks every result, prints a human-readable report and, as
the last line of stdout, one JSON object with the metrics. See README.md.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import cli  # noqa: E402

if __name__ == "__main__":
    sys.exit(cli.main(sys.argv[1:]))
