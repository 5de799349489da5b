import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules sit beside run.py; the fixtures of the
# package's own tests sit at the checkout root
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]
