import os
import sys

# the benchmark's modules import each other as top-level names, and the
# engine package sits next to the benchmark's directory
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]
