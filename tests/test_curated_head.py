"""The driver samples the first 50 entries of ``__spark_entry__.queries()``;
the curated head that fills them is checked at import time."""

import importlib.util
import os

import pytest

ENTRY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "__spark_entry__.py",
)


@pytest.fixture(scope="module")
def entry():
    spec = importlib.util.spec_from_file_location("spark_entry", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_curated_head_leads_the_catalog(entry):
    names = list(entry.queries())
    assert names[:50] == entry._CURATED_HEAD
    assert sorted(names) == sorted(entry.QUERIES)


@pytest.mark.parametrize(
    "mutate",
    [
        lambda h: h[:-1] + ["no_such_entry"],  # missing from the catalog
        lambda h: h[:-1] + h[:1],  # duplicate name
        lambda h: h[:-1],  # 49 names
    ],
    ids=["missing", "duplicate", "short"],
)
def test_bad_curated_head_raises(entry, mutate):
    with pytest.raises(ValueError, match="_CURATED_HEAD"):
        entry._check_curated_head(mutate(list(entry._CURATED_HEAD)), entry.QUERIES)
