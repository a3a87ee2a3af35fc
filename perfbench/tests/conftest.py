import os
import sys

# the benchmark's modules live one directory up, imported by name as
# run.py imports them
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
