"""tools/editcheck.py maps a changed helper to the queries it reaches,
through any chain of intermediate helpers — not only q_* bodies that
name it directly."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

import editcheck  # noqa: E402


def test_closure_reaches_queries_through_helpers():
    # _cdc_apply_fn is called by stream/batch_cdc_apply, which the
    # CDC fixture builder and the streaming query call in turn
    got = editcheck.affected_queries({"_cdc_apply_fn"},
                                     editcheck.module_defs())
    assert set(got) == {"q_stream_cdc_apply", "q_cdc_read_pruned",
                        "q_cdc_deletes", "q_snapshot_diff"}
    assert all(roots == {"_cdc_apply_fn"} for roots in got.values())


def test_closure_is_a_fixed_point_on_synthetic_defs():
    defs = {"a": {"x"}, "b": {"a"}, "c": {"b"}, "d": {"y"},
            "q_1": {"c"}, "q_2": {"d", "a"}, "q_3": {"q_1"}}
    assert editcheck.affected_queries({"a"}, defs) == {
        "q_1": {"a"}, "q_2": {"a"}}
    assert editcheck.affected_queries({"a", "d"}, defs) == {
        "q_1": {"a"}, "q_2": {"a", "d"}}
    assert editcheck.affected_queries({"x"}, defs) == {
        "q_1": {"x"}, "q_2": {"x"}}
