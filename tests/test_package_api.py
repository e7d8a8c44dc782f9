"""The package's lazy top-level API map: every name must resolve, so a
deleted or renamed module cannot leave a dangling entry. Needs no Spark
session (importing a module never starts one)."""

import importlib

import pytest

import extractors_geo_spark as pkg


@pytest.mark.parametrize("name", sorted(pkg._API))
def test_api_name_resolves(name):
    mod_name, attr = pkg._API[name]
    mod = importlib.import_module(mod_name)
    assert attr is None or hasattr(mod, attr), f"{mod_name} has no {attr}"
    assert getattr(pkg, name) is (getattr(mod, attr) if attr else mod)
