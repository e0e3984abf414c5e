import os
import sys

# the checks compare results with the repository's oracle helper (tests/)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
