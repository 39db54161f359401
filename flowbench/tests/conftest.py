import sys
from pathlib import Path

# the repository root, so that `flowbench` and `__spark_entry__` import
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
