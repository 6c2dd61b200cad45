import sys
from pathlib import Path

# the benchmark's modules live one level up and import each other by name
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
