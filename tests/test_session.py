"""Session env knobs fail fast with an error naming the variable."""

from __future__ import annotations

import pytest

from lshrs_spark.session import _env_positive_int


@pytest.mark.parametrize("name", ["SPARK_GRAFT_CPUS",
                                  "SPARK_GRAFT_LIST_THRESHOLD"])
def test_env_knob_parses_or_names_the_variable(monkeypatch, name):
    monkeypatch.delenv(name, raising=False)
    assert _env_positive_int(name, 7) == 7
    monkeypatch.setenv(name, "")
    assert _env_positive_int(name, 7) == 7
    monkeypatch.setenv(name, " 12 ")
    assert _env_positive_int(name, 7) == 12
    for bad in ["abc", "1.5", "0", "-3"]:
        monkeypatch.setenv(name, bad)
        with pytest.raises(ValueError, match=name):
            _env_positive_int(name, 7)
