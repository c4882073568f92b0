"""Tests of the plan-dump differ: python3 -m unittest discover tools"""
import contextlib
import io
import os
import tempfile
import unittest

import plan_diff

PLAN = """== Physical Plan ==
* Project (4)
+- BroadcastHashJoin Inner BuildLeft (3)
   :- BroadcastExchange (1)
   +- Scan ExistingRDD (2)

(1) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, true]),false), [plan_id=%(plan)d]

(2) Scan ExistingRDD
Output [2]: [neighbor_id#%(a)dL, cv#%(b)d]
Arguments: [neighbor_id#%(a)dL, cv#%(b)d], MapPartitionsRDD[%(rdd)d] at createDataFrame at %(site)s.scala:%(line)d

(3) Project
Output [1]: [transform(cv#%(b)d, lambdafunction((lambda x_%(x)d#%(xid)d * 2.0), lambda x_%(x)d#%(xid)d, false)) AS t#%(c)d]
Location: InMemoryFileIndex [file:%(root)s/tmp/idx/data/assigned-%(ep)09d/part-00000-%(uuid)s-c000.snappy.parquet]
Function: graft.ops.Similarity$$$$Lambda$%(lam)d/0x00000008012%(lam)d@%(hash)x
"""


def plan(**kw):
    base = dict(plan=101, a=1, b=2, rdd=7, site="Tables", line=46, x=3, xid=9, c=10, root="/src/a",
                ep=3, uuid="0f3a1b2c-1111-2222-3333-444455556666", lam=812, hash=0x5f3a2b)
    base.update(kw)
    return PLAN % base


class PlanDiffTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")
        os.makedirs(self.a)
        os.makedirs(self.b)

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, root, name, text):
        with open(os.path.join(root, name), "w") as f:
            f.write(text)

    def run_main(self, *extra):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = plan_diff.main([self.a, self.b, *extra])
        return code, out.getvalue()

    def test_masked_only_differences_compare_equal(self):
        self.write(self.a, "q37_ann_topk_before.txt", plan())
        self.write(self.b, "q37_ann_topk_after.txt", plan(
            plan=202, a=41, b=42, rdd=99, site="Sink", line=51, x=17, xid=93, c=50, root="/src/b",
            ep=8, uuid="9a8b7c6d-aaaa-bbbb-cccc-ddddeeeeffff", lam=1204, hash=0xabc123))
        code, out = self.run_main("--roots", "/src/a", "/src/b")
        self.assertEqual(code, 0, out)
        self.assertIn("1 compared, 0 differing", out)

    def test_checkout_path_differs_without_roots(self):
        self.write(self.a, "q1_x_before.txt", plan(root="/src/a"))
        self.write(self.b, "q1_x_after.txt", plan(root="/src/b"))
        self.assertEqual(self.run_main()[0], 1)

    def test_operator_change_differs(self):
        self.write(self.a, "q38_ann_lsh_before.txt", plan())
        self.write(self.b, "q38_ann_lsh_after.txt",
                   plan().replace("BuildLeft", "BuildRight"))
        code, out = self.run_main()
        self.assertEqual(code, 1)
        self.assertIn("q38_ann_lsh: plans differ", out)
        self.assertIn("BuildRight", out)
        self.assertEqual(out.strip().splitlines()[-1], "q38_ann_lsh")

    def test_type_suffix_is_not_masked(self):
        self.write(self.a, "q2_y_before.txt", plan())
        self.write(self.b, "q2_y_after.txt", plan().replace("L,", ",", 1))
        self.assertEqual(self.run_main()[0], 1)

    def test_one_sided_queries_are_reported(self):
        self.write(self.a, "q43_ann_ivf_before.txt", plan())
        self.write(self.b, "q43_ann_ivf_after.txt", plan())
        self.write(self.a, "q81_range_search_before.txt", plan())
        self.write(self.b, "q99_ann_index_after.txt", plan())
        code, out = self.run_main()
        self.assertEqual(code, 1)
        self.assertIn("q81_range_search: only in " + self.a, out)
        self.assertIn("q99_ann_index: only in " + self.b, out)
        self.assertEqual(out.strip().splitlines()[-1], "q81_range_search,q99_ann_index")


if __name__ == "__main__":
    unittest.main()
