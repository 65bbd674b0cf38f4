"""Runs the benchmark's own specs (test/perfbench/Specs.scala):

    python3 perfbench/selftest.py
"""

import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

if __name__ == "__main__":
    classes = build.build()
    sys.exit(subprocess.run(["java", "-cp", build.runtime_classpath(classes),
                             "perfbench.Specs"]).returncode)
