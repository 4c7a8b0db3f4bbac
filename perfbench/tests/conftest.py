import os
import sys

# the benchmark's modules import each other by name, as run.py runs them
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
