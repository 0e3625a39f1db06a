import os

import pytest

tomllib = pytest.importorskip("tomllib")

PYPROJECT = os.path.join(os.path.dirname(__file__), os.pardir, "pyproject.toml")


def test_version_has_one_source():
    with open(PYPROJECT, "rb") as f:
        cfg = tomllib.load(f)
    assert "version" not in cfg["project"]
    assert "version" in cfg["project"]["dynamic"]
    assert cfg["tool"]["setuptools"]["dynamic"]["version"] == {
        "attr": "pimbloomfilters_spark.__version__"}
