"""Unit test for tools/dupframes.py: python3 -m unittest tools/test_dupframes.py"""
import io
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import dupframes  # noqa: E402

# ten code lines of 30+ characters each: any 8 consecutive lines total
# well over the 200-character floor
BLOCK = [f"  val column{i:02d} = frame.select(col(\"c{i}\")).cache()" for i in range(10)]


def write(root, rel, lines):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


class DupFramesTest(unittest.TestCase):
    def test_counts_lines_of_non_first_copies(self):
        with tempfile.TemporaryDirectory() as root:
            base = "src/main/scala/graft"
            # first copy: comments, a blank line and a scaladoc line inside
            # the block are not code, so the copy still matches
            write(root, f"{base}/a/A.scala",
                  ["package graft.a", "object A {", "  // a comment"]
                  + BLOCK[:5] + ["", "   * doc line"] + BLOCK[5:] + ["}"])
            # second copy of the same 10 lines, differently indented,
            # plus 8 unique lines that a short import line cannot hide
            write(root, f"{base}/b/B.scala",
                  ["package graft.b", "object B {"]
                  + ["    " + l.strip() for l in BLOCK]
                  + [f"  val unique{i} = {i}" for i in range(8)] + ["}"])
            pasted, groups = dupframes.scan(root)
            # B's 10 block lines are the non-first occurrence; the object
            # header joins no window (it sits next to the package line)
            self.assertEqual(len(pasted), 10)
            self.assertTrue(all(rel.endswith("B.scala") for rel, _ in pasted))
            self.assertEqual({no for _, no in pasted}, set(range(3, 13)))
            # 10 lines hold 3 windows of 8, each seen twice
            self.assertEqual(len(groups), 3)
            out = io.StringIO()
            with redirect_stdout(out):
                dupframes.main([root, "--top", "5"])
            lines = out.getvalue().splitlines()
            self.assertEqual(lines[0], "10")
            self.assertEqual(lines[1], "  b 10")
            self.assertIn(f"    {base}/a/A.scala:4", lines)

    def test_short_and_import_windows_are_skipped(self):
        with tempfile.TemporaryDirectory() as root:
            short = [f"x{i}" for i in range(10)]
            imports = ["import a.b.c"] + BLOCK[:8]
            for name in ("A", "B"):
                write(root, f"src/main/scala/graft/p/{name}.scala", short)
                write(root, f"src/main/scala/graft/q/{name}.scala", imports)
            pasted, _ = dupframes.scan(root)
            # the short file never reaches 200 characters; in the import
            # file only the window after the import line counts
            self.assertEqual({rel for rel, _ in pasted},
                             {os.path.join("src", "main", "scala", "graft", "q", "B.scala")})
            self.assertEqual(len(pasted), 8)


if __name__ == "__main__":
    unittest.main()
