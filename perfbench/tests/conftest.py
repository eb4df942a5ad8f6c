import os
import sys

# the benchmark's modules, then the repository root (bench.py, kse)
_HERE = os.path.dirname(os.path.abspath(__file__))
for _p in (os.path.dirname(os.path.dirname(_HERE)), os.path.dirname(_HERE)):
    sys.path.insert(0, _p)
