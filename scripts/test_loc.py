"""Tests of loc.py over a temporary git repository: one commit with a
main and a test source, then an edited, an added and a deleted file.

    python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import io
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import loc  # noqa: E402


def git(root, *args):
    subprocess.run(("git", "-C", root, "-c", "user.name=t", "-c", "user.email=t@t")
                   + args, check=True, capture_output=True)


def write(root, rel, n):
    p = Path(root, rel)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text("".join(f"line {i}\n" for i in range(n)))


class LocTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name
        git(self.root, "init", "-q")
        write(self.root, "src/main/scala/a/A.scala", 10)
        write(self.root, "src/main/scala/a/Gone.scala", 4)
        write(self.root, "src/test/scala/a/ASpec.scala", 7)
        write(self.root, "src/main/resources/x.conf", 50)  # not Scala: ignored
        write(self.root, "build.sbt", 3)  # outside src: ignored
        git(self.root, "add", "-A")
        git(self.root, "commit", "-q", "-m", "base")
        write(self.root, "src/main/scala/a/A.scala", 6)
        os.remove(Path(self.root, "src/main/scala/a/Gone.scala"))
        write(self.root, "src/test/scala/a/BSpec.scala", 5)

    def tearDown(self):
        self.tmp.cleanup()

    def test_counts_match_wc_l(self):
        head = loc.disk_counts(self.root)
        self.assertEqual(head, {"src/main/scala/a/A.scala": 6,
                                "src/test/scala/a/ASpec.scala": 7,
                                "src/test/scala/a/BSpec.scala": 5})
        self.assertEqual(loc.totals(head), {"main": 6, "test": 12})
        # a last line without a newline is not counted, as in wc -l
        Path(self.root, "src/main/scala/a/A.scala").write_text("x\ny")
        self.assertEqual(loc.totals(loc.disk_counts(self.root))["main"], 1)

    def test_base_counts_from_git(self):
        base = loc.rev_counts(self.root, "HEAD")
        self.assertEqual(loc.totals(base), {"main": 14, "test": 7})

    def test_delta_lists_edited_added_and_deleted_files(self):
        d = loc.delta(loc.rev_counts(self.root, "HEAD"), loc.disk_counts(self.root))
        self.assertEqual(d, [("src/main/scala/a/A.scala", 10, 6),
                             ("src/main/scala/a/Gone.scala", 4, 0),
                             ("src/test/scala/a/BSpec.scala", 0, 5)])

    def test_cli_report(self):
        out = subprocess.run(
            (sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "loc.py"),
             "--base", "HEAD"),
            cwd=self.root, check=True, capture_output=True, text=True).stdout
        self.assertIn("main  14 -> 6  (-8)", out)
        self.assertIn("test  7 -> 12  (+5)", out)
        self.assertIn("     -4       4 ->      0  src/main/scala/a/Gone.scala", out)
        plain = io.StringIO()
        loc.report(loc.disk_counts(self.root), out=plain)
        self.assertEqual(plain.getvalue(), "main  6\ntest  12\n")


if __name__ == "__main__":
    unittest.main()
