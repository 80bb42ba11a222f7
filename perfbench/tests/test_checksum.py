"""Checksum order-independence, checked on Spark through perfbench.SelfTest.

python3 -m unittest discover -s perfbench/tests   (from the checkout root;
builds the benchmark first if needed)
"""
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import build  # noqa: E402
import run  # noqa: E402


class ChecksumOnSpark(unittest.TestCase):
    def test_self_test_passes(self):
        classes = build.build()
        run.WORK_ROOT.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.WORK_ROOT) as work:
            work = Path(work)
            opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            cmd = (["java", "-Xmx1g", "-Duser.timezone=UTC"] + build.java_flags(work) + opens +
                   ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}", "perfbench.SelfTest", str(work)])
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=170, cwd=work)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:] + r.stderr[-3000:])
        self.assertIn("perfbench self-test ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
