import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))                    # perfbench/
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))   # the checkout root
