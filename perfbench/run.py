"""kioss_spark benchmark: run one named workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload curation --seed 1 --seconds 15 --trace 0

See perfbench/NOTES.md for the workloads, the metrics and the layer map.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True

from kbench.cli import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
