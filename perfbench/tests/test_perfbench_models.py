"""The union-find model the components store is checked against (no Spark
needed)."""

from __future__ import annotations

from perfbench.workloads import CcModel


def test_fold_labels_each_component_with_its_smallest_id():
    m = CcModel()
    m.fold([(5, 3), (3, 9), (1, 2)])
    assert m.label == {5: 3, 3: 3, 9: 3, 1: 1, 2: 1}
    m.fold([(9, 2), (7, 8)])  # merges the two components
    assert m.label == {5: 1, 3: 1, 9: 1, 1: 1, 2: 1, 7: 7, 8: 7}


def test_retract_relabels_survivors_without_splitting():
    m = CcModel()
    m.fold([(1, 2), (2, 3), (4, 5)])
    m.retract([1, 4, 5])
    # 2 and 3 stay one component under their new smallest id; a component
    # with no survivors is gone
    assert m.label == {2: 2, 3: 2}
