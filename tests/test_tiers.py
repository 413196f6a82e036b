"""The test-tier switch: which settings of SPARK_GRAFT_FULL_TESTS opt
into the full (slow/fuzz/cluster) tier."""

from __future__ import annotations

import pytest

from conftest import full_tier_enabled


class _Config:
    def __init__(self, full_tests: bool):
        self._full_tests = full_tests

    def getoption(self, name, default=None):
        assert name == "--full-tests"
        return self._full_tests


@pytest.mark.parametrize(
    "value, enabled",
    [
        ("1", True), ("true", True), ("TRUE", True), ("yes", True), ("Yes", True),
        ("0", False), ("false", False), ("no", False), ("", False), ("2", False),
    ],
)
def test_full_tier_env_values(monkeypatch, value, enabled):
    monkeypatch.setenv("SPARK_GRAFT_FULL_TESTS", value)
    assert full_tier_enabled(_Config(False)) is enabled
    assert full_tier_enabled(_Config(True)) is True


def test_full_tier_env_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_FULL_TESTS", raising=False)
    assert full_tier_enabled(_Config(False)) is False
    assert full_tier_enabled(_Config(True)) is True
