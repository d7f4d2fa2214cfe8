"""The benchmark's modules import each other by bare name, as they do
when ``perfbench/run.py`` runs as a script."""

from __future__ import annotations

import pathlib
import sys

BENCH = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(BENCH.parent))
