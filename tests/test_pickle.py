"""register_by_value keeps its --py-files fallback but never fails
silently."""

import pytest
from pyspark import cloudpickle

from ariadna_spark import _pickle


def test_register_by_value_failure_warns(monkeypatch):
    def boom(mod):
        raise RuntimeError("by-value pickling unsupported")

    monkeypatch.setattr(cloudpickle, "register_pickle_by_value", boom)
    with pytest.warns(
        RuntimeWarning, match=r"ariadna_spark\.analyze.*by-value pickling unsupported"
    ):
        _pickle.register_by_value("ariadna_spark.analyze")
