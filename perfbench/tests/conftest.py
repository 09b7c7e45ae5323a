import sys
from pathlib import Path

# the benchmark's package and entry point import from perfbench/
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
