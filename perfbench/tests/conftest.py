import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
CHECKOUT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, CHECKOUT]
