"""Lets the benchmark's tests import the program and the benchmark's
modules when pytest runs from the repository root."""

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
for p in (str(HERE), str(HERE.parent)):
    if p not in sys.path:
        sys.path.insert(0, p)
