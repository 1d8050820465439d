"""Benchmark command: see ``bench.py``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
"""

import time

PROCESS_START = time.time()

import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

if __name__ == "__main__":
    from perfbench.bench import main

    sys.exit(main(PROCESS_START))
