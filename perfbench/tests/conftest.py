import os
import sys

# the repository root, so that ``perfbench`` and the package under test
# import from any working directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))
