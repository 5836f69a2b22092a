"""kioss_spark benchmark harness (see perfbench/NOTES.md)."""

import os

PERFBENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(PERFBENCH_DIR)
