"""Unit tests for plan_diff.py's masking.

    python3 -m unittest discover -s scripts -p 'test_*.py'

The fixtures are trimmed from ExplainDump output: two dumps of one tree
that differ only in what a JVM-wide counter or an unordered collection
decided must compare equal, and a real plan change must still show.
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from plan_diff import masked  # noqa: E402

# kmv1_set_ops: the lambda variable's suffix comes from a JVM-wide
# counter, so a dump of fewer queries names it x_1 instead of x_13.
KMV_FULL = """\
(7) Project [codegen id : 3]
Output [2]: [va#9334, cast(size(filter(topk#9352, lambdafunction((array_contains(va#9334, lambda x_13#9355L) AND array_contains(vb#9336, lambda x_13#9355L)), lambda x_13#9355L, false)), true) as bigint) AS inter#9354L]
Input [3]: [va#9334, vb#9336, topk#9352]
"""
KMV_SUBSET = """\
(7) Project [codegen id : 3]
Output [2]: [va#120, cast(size(filter(topk#130, lambdafunction((array_contains(va#120, lambda x_1#133L) AND array_contains(vb#122, lambda x_1#133L)), lambda x_1#133L, false)), true) as bigint) AS inter#132L]
Input [3]: [va#120, vb#122, topk#130]
"""

# a24_ab_proportions: the distinct-aggregate rewrite numbers its two
# groups (gid 1, 2) and orders their columns by a hash map's iteration
# order, which follows the expression ids; a subset dump swaps both.
A24_FULL = """\
(4) Expand
Input [3]: [event_type#11540, user_id#11539L, arm#11550]
Arguments: [[event_type#11540, CASE WHEN (arm#11550 = control) THEN user_id#11539L END, null, 1], [event_type#11540, null, CASE WHEN (arm#11550 = treatment) THEN user_id#11539L END, 2]], [event_type#11540, CASE WHEN (arm = 'control') THEN user_id END#11568L, CASE WHEN (arm = 'treatment') THEN user_id END#11569L, gid#11567]

(5) HashAggregate
Keys [4]: [event_type#11540, CASE WHEN (arm = 'control') THEN user_id END#11568L, CASE WHEN (arm = 'treatment') THEN user_id END#11569L, gid#11567]

(6) Exchange
Arguments: hashpartitioning(event_type#11540, CASE WHEN (arm = 'control') THEN user_id END#11568L, CASE WHEN (arm = 'treatment') THEN user_id END#11569L, gid#11567, 4), ENSURE_REQUIREMENTS, [plan_id=26845]

(8) HashAggregate
Keys [1]: [event_type#11540]
Functions [2]: [partial_count(CASE WHEN (arm = 'control') THEN user_id END#11568L) FILTER (WHERE (gid#11567 = 1)), partial_count(CASE WHEN (arm = 'treatment') THEN user_id END#11569L) FILTER (WHERE (gid#11567 = 2))]
Aggregate Attributes [2]: [count#11570L, count#11571L]
"""
A24_SUBSET = """\
(4) Expand
Input [3]: [event_type#5131, user_id#5130L, arm#5141]
Arguments: [[event_type#5131, CASE WHEN (arm#5141 = treatment) THEN user_id#5130L END, null, 1], [event_type#5131, null, CASE WHEN (arm#5141 = control) THEN user_id#5130L END, 2]], [event_type#5131, CASE WHEN (arm = 'treatment') THEN user_id END#5159L, CASE WHEN (arm = 'control') THEN user_id END#5160L, gid#5158]

(5) HashAggregate
Keys [4]: [event_type#5131, CASE WHEN (arm = 'treatment') THEN user_id END#5159L, CASE WHEN (arm = 'control') THEN user_id END#5160L, gid#5158]

(6) Exchange
Arguments: hashpartitioning(event_type#5131, CASE WHEN (arm = 'treatment') THEN user_id END#5159L, CASE WHEN (arm = 'control') THEN user_id END#5160L, gid#5158, 4), ENSURE_REQUIREMENTS, [plan_id=12981]

(8) HashAggregate
Keys [1]: [event_type#5131]
Functions [2]: [partial_count(CASE WHEN (arm = 'control') THEN user_id END#5160L) FILTER (WHERE (gid#5158 = 2)), partial_count(CASE WHEN (arm = 'treatment') THEN user_id END#5159L) FILTER (WHERE (gid#5158 = 1))]
Aggregate Attributes [2]: [count#5161L, count#5162L]
"""


# tx28_boilerplate_catalog: two distinct counts beside a regular
# aggregate, whose column follows gid; the JVM's expression ids decide
# which distinct group gets gid 1.
TX28_A = """\
(4) Expand
Input [3]: [doc_id#17154L, source#17157, seg#17163]
Arguments: [[seg#17163, null, null, 0, doc_id#17154L], [seg#17163, source#17157, null, 1, null], [seg#17163, null, doc_id#17154L, 2, null]], [seg#17163, source#17176, doc_id#17177L, gid#17175, doc_id#17178L]

(5) HashAggregate
Input [5]: [seg#17163, source#17176, doc_id#17177L, gid#17175, doc_id#17178L]
Keys [4]: [seg#17163, source#17176, doc_id#17177L, gid#17175]
Functions [2]: [partial_count(1), partial_min(doc_id#17178L)]
Aggregate Attributes [2]: [count#17195L, min#17196L]
Results [6]: [seg#17163, source#17176, doc_id#17177L, gid#17175, count#17197L, min#17198L]

(8) HashAggregate
Input [6]: [seg#17163, source#17176, doc_id#17177L, gid#17175, count(1)#17179L, min(doc_id)#17181L]
Keys [1]: [seg#17163]
Functions [4]: [partial_first(count(1)#17179L, true) FILTER (WHERE (gid#17175 = 0)), partial_count(doc_id#17177L) FILTER (WHERE (gid#17175 = 2)), partial_count(source#17176) FILTER (WHERE (gid#17175 = 1)), partial_first(min(doc_id)#17181L, true) FILTER (WHERE (gid#17175 = 0))]
Aggregate Attributes [6]: [first#17183L, valueSet#17184, count#17185L, count#17186L, first#17187L, valueSet#17188]
"""
TX28_B = """\
(4) Expand
Input [3]: [doc_id#16982L, source#16985, seg#16991]
Arguments: [[seg#16991, null, null, 0, doc_id#16982L], [seg#16991, doc_id#16982L, null, 1, null], [seg#16991, null, source#16985, 2, null]], [seg#16991, doc_id#17004L, source#17005, gid#17003, doc_id#17006L]

(5) HashAggregate
Input [5]: [seg#16991, doc_id#17004L, source#17005, gid#17003, doc_id#17006L]
Keys [4]: [seg#16991, doc_id#17004L, source#17005, gid#17003]
Functions [2]: [partial_count(1), partial_min(doc_id#17006L)]
Aggregate Attributes [2]: [count#17023L, min#17024L]
Results [6]: [seg#16991, doc_id#17004L, source#17005, gid#17003, count#17025L, min#17026L]

(8) HashAggregate
Input [6]: [seg#16991, doc_id#17004L, source#17005, gid#17003, count(1)#17007L, min(doc_id)#17009L]
Keys [1]: [seg#16991]
Functions [4]: [partial_first(count(1)#17007L, true) FILTER (WHERE (gid#17003 = 0)), partial_count(doc_id#17004L) FILTER (WHERE (gid#17003 = 1)), partial_count(source#17005) FILTER (WHERE (gid#17003 = 2)), partial_first(min(doc_id)#17009L, true) FILTER (WHERE (gid#17003 = 0))]
Aggregate Attributes [6]: [first#17011L, valueSet#17012, count#17013L, count#17014L, first#17015L, valueSet#17016]
"""

class LambdaVariables(unittest.TestCase):
    def test_counter_suffix_is_renumbered(self):
        self.assertEqual(masked(KMV_FULL), masked(KMV_SUBSET))

    def test_distinct_variables_stay_distinct(self):
        two = KMV_FULL.replace("vb#9336, lambda x_13", "vb#9336, lambda y_14")
        self.assertNotEqual(masked(KMV_FULL), masked(two))

    def test_names_not_bound_by_a_lambda_are_kept(self):
        plain = "Output [1]: [x_1#5L]\n"
        self.assertEqual(masked(plain), ["Output [1]: [x_1#e0L]\n"])


class DistinctGroups(unittest.TestCase):
    def test_group_order_is_canonical(self):
        self.assertEqual(masked(A24_FULL), masked(A24_SUBSET))

    def test_swapped_gid_filters_still_differ(self):
        swapped = A24_FULL.replace("= 1))", "= x))").replace(
            "= 2))", "= 1))").replace("= x))", "= 2))")
        self.assertNotEqual(masked(A24_FULL), masked(swapped))

    def test_changed_projection_still_differs(self):
        changed = A24_FULL.replace("= treatment)", "= holdout)", 1)
        self.assertNotEqual(masked(A24_FULL), masked(changed))

    def test_groups_before_a_regular_aggregate_are_canonical(self):
        self.assertEqual(masked(TX28_A), masked(TX28_B))

    def test_regular_aggregate_column_stays_put(self):
        moved = TX28_A.replace("[seg#17163, null, null, 0, doc_id#17154L]",
                               "[seg#17163, null, null, 0, seg#17163]")
        self.assertNotEqual(masked(TX28_A), masked(moved))

    def test_other_nodes_keep_their_order(self):
        project = A24_SUBSET.replace("(4) Expand", "(4) Project")
        self.assertNotEqual(masked(A24_FULL), masked(project))


# a seamed plan's checkpoint scan names the source line that built the
# RDD; an edit above that line in Materialize.scala moves it.
SEAM_SCAN = """\
(1) Scan ExistingRDD
Output [2]: [vec_id#1181L, r#1233L]
Arguments: [vec_id#1181L, r#1233L], MapPartitionsRDD[672] at localCheckpoint at Materialize.scala:100, ExistingRDD, UnknownPartitioning(0)
"""


class CallSites(unittest.TestCase):
    def test_moved_line_is_masked(self):
        moved = SEAM_SCAN.replace("Materialize.scala:100", "Materialize.scala:101")
        self.assertEqual(masked(SEAM_SCAN), masked(moved))

    def test_other_call_site_still_differs(self):
        other = SEAM_SCAN.replace("localCheckpoint at Materialize",
                                  "checkpoint at Materialize")
        self.assertNotEqual(masked(SEAM_SCAN), masked(other))


if __name__ == "__main__":
    unittest.main()
