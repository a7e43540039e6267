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

    def test_other_nodes_keep_their_order(self):
        project = A24_SUBSET.replace("(4) Expand", "(4) Project")
        self.assertNotEqual(masked(A24_FULL), masked(project))


if __name__ == "__main__":
    unittest.main()
