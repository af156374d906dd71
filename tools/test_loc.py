"""Tests of tools/loc.py: python3 -m unittest discover -s tools"""
import contextlib
import io
import os
import tempfile
import unittest

import loc


class CodeLinesTest(unittest.TestCase):
    def test_blank_and_line_comments_do_not_count(self):
        self.assertEqual(loc.code_lines("\n   \n// a\n  // b\nval x = 1\n"), 1)

    def test_block_comments_and_scaladoc_do_not_count(self):
        src = ("/** Doc.\n  * more\n  */\ndef f = 1\n/* one */\n"
               "/*\n a\n*/\nval y = 2\n")
        self.assertEqual(loc.code_lines(src), 2)

    def test_nested_blocks_close_at_the_outer_end(self):
        self.assertEqual(loc.code_lines("/* a /* b */\nstill */\nval z = 3\n"), 1)

    def test_code_beside_a_comment_counts(self):
        src = "val a = 1 // why\nval b = 2 /* why */\n/* x */ val c = 3\n"
        self.assertEqual(loc.code_lines(src), 3)

    def test_comment_markers_inside_literals_open_nothing(self):
        src = ('val p = s"$dir/*.parquet"\nval u = "http://x"\n'
               "val q = '\"'\nval e = '\\''\nval r = 1\n")
        self.assertEqual(loc.code_lines(src), 5)

    def test_triple_quoted_lines_are_code(self):
        src = 'val s = """a\n// not a comment\n/* nor this\n"""\n// gone\n'
        self.assertEqual(loc.code_lines(src), 4)


class MainTest(unittest.TestCase):
    def test_prints_each_file_and_the_total(self):
        with tempfile.TemporaryDirectory() as d:
            for name, text in [("A.scala", "// c\nval a = 1\n"),
                               ("B.scala", "val b = 1\nval c = 2\n"),
                               ("notes.txt", "ignored\n")]:
                with open(os.path.join(d, name), "w") as f:
                    f.write(text)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                loc.main([d])
            lines = out.getvalue().split("\n")[:-1]
        self.assertEqual([l.split()[0] for l in lines], ["1", "2", "3"])
        self.assertTrue(lines[0].endswith("A.scala"))
        self.assertTrue(lines[-1].endswith("total"))


if __name__ == "__main__":
    unittest.main()
