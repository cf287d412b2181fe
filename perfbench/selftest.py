"""The benchmark's own tests.

    python3 perfbench/selftest.py

Builds like run.py, then runs perfbench.SelfTest: each generator gives
byte-identical files for one seed and different files for another, and each
output check rejects a planted defect (a survey's rows dropped, CASEIDs
trimmed, a planted duplicate kept, an id kept twice, a fresh arrival
suppressed).
Exits non-zero when any test fails.
"""

import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the benchmark directory free of build output
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def main():
    classpath = build.ensure()
    work = build.build_dir() / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    cmd = run.jvm_cmd(classpath, work) + ["perfbench.SelfTest", "--work", str(work / "data")]
    code = subprocess.run(cmd, timeout=600).returncode
    shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
