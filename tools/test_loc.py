"""Tests of the Scala line counter: python3 -m unittest discover tools"""
import subprocess
import unittest

import loc

# the tree the recorded line counts were measured on
PARENT = "48d2fbcd340f6ddafbac72b5a802a31f4a40e735"


def has_rev(rev):
    return subprocess.run(["git", "-C", loc.ROOT, "cat-file", "-e", rev + "^{commit}"],
                          capture_output=True).returncode == 0


class CountTest(unittest.TestCase):

    def test_comment_markers_inside_strings_are_code(self):
        self.assertEqual(loc.count('val a = "http://x"\n'), 1)
        self.assertEqual(loc.count('val a = "/* not a comment"\nval b = 1\n'), 2)
        self.assertEqual(loc.count('val c = \'"\' // quote char\n// next\n'), 1)
        self.assertEqual(loc.count('val q = "say \\"//\\" twice"\n'), 1)

    def test_triple_quoted_string_counts_every_line(self):
        text = 'val sql =\n  """SELECT 1\n    |// not a comment\n    |\n    |FROM t""""\nval x = 2\n'
        # the blank line inside the literal is string content, so it counts
        self.assertEqual(loc.count(text), 6)

    def test_scaladoc_and_block_comments_do_not_count(self):
        text = ("/** Scaladoc\n  * with `code`\n  */\n"
                "object A {\n"
                "  /* block /* nested */ still comment */\n"
                "  val x = 1 /* trailing */\n"
                "  /* spans\n  lines */ val y = 2\n"
                "\n   \n"
                "  // line comment\n"
                "}\n")
        self.assertEqual(loc.count(text), 4)

    def test_blank_and_comment_only_file_is_zero(self):
        self.assertEqual(loc.count("\n// a\n/* b */\n\n"), 0)


class DefsTest(unittest.TestCase):

    def test_def_followed_by_scaladoc_def(self):
        text = ("object A {\n"
                "  def f(x: Int): Int =\n"
                "    x + 1\n"
                "\n"
                "  /** Doc of g.\n"
                "    * def notADef = 0\n"
                "    */\n"
                "  def g: Int = {\n"
                "    val y = 2\n"
                "    y\n"
                "  }\n"
                "}\n")
        # f ends at g's scaladoc, which counts for neither; g ends at A's brace
        self.assertEqual(loc.defs(text), [("f", 2, 2), ("g", 8, 4)])

    def test_nested_def_counts_inside_its_parent(self):
        text = ("object B {\n"
                "  private[graft] def outer(): Int = {\n"
                "    def inner(a: Int) =\n"
                "      a * 2 // doubled\n"
                "    inner(3)\n"
                "  }\n"
                "  val z = \"{\"\n"
                "  override def toString = \"B\"\n"
                "}\n")
        self.assertEqual(loc.defs(text), [("outer", 2, 5), ("toString", 8, 1)])


class StackedDocsTest(unittest.TestCase):

    def test_stacked_scaladocs_list_the_first(self):
        text = ("object A {\n"
                "  /** Orphaned doc of f.\n"
                "    */\n"
                "  /** Doc of g. */\n"
                "  def g = 1\n"
                "}\n")
        self.assertEqual(loc.stacked_docs(text), [2])

    def test_docs_separated_by_code_are_not_stacked(self):
        text = ("/** Doc of f. */\n"
                "def f = 1\n"
                "/** Doc of g.\n"
                "  */\n"
                "def g = \"/** not a doc */\"\n"
                "/** Doc of h. */ def h = 2\n")
        self.assertEqual(loc.stacked_docs(text), [])

    def test_docs_separated_by_blank_lines_only_are_stacked(self):
        text = ("/** First. */\n"
                "\n"
                "   \n"
                "/** Second. */\n"
                "/* a plain block comment is not a doc */\n"
                "def f = 1\n")
        self.assertEqual(loc.stacked_docs(text), [1])


@unittest.skipUnless(has_rev(PARENT), "parent revision not in this checkout")
class ParentTreeTest(unittest.TestCase):

    def test_parent_counts(self):
        c = loc.counts(("src/main",), PARENT)
        self.assertEqual(sum(c.values()), 16685)
        self.assertEqual(c["src/main/scala/graft/ops/EpochStore.scala"], 535)
        self.assertEqual(c["src/main/scala/graft/functions/HtmlKernel.scala"], 378)


if __name__ == "__main__":
    unittest.main()
