import sys
from pathlib import Path

# import the benchmark as a package from the checkout root
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
