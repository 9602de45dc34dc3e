import sys
from pathlib import Path

# the repository root, so `perfbench` and the package import as in a run
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
