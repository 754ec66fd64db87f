"""The trace flag and the quantile helper."""

from __future__ import annotations

from harness import Trace, quantile


class _Context:
    def __init__(self) -> None:
        self.groups: list[str] = []

    def setJobGroup(self, group: str, description: str) -> None:
        self.groups.append(group)


def test_job_groups_are_tagged_only_when_traced():
    sc = _Context()
    Trace(enabled=False).job_group(sc, "a")
    assert sc.groups == []
    traced = Trace(enabled=True)
    traced.job_group(sc, "b")
    assert sc.groups == ["b"] and traced.self_s > 0


def test_quantile_interpolates_and_keeps_infinities():
    assert quantile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert quantile([1.0, 2.0], 0.5) == 1.5
    assert quantile([1.0, float("inf"), float("inf")], 0.75) == float("inf")
