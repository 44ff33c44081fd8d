"""Make UDF-bearing modules safe to ship to Python workers regardless of
how the driver process was launched.

Spark serializes a pandas UDF defined in an importable module *by
reference* (module name + qualname); the worker then needs `ariadna_spark`
on its own sys.path. That holds under pytest (cwd = repo root) but not when
a host process imports __spark_entry__.py from elsewhere (the round driver
does exactly that), and on a real cluster it would require shipping the
package via --py-files. Registering the module for by-value pickling makes
the UDF self-contained either way; --py-files remains the production path
(bench.py uses it) and this is the belt-and-braces for embedded use.
"""

from __future__ import annotations

import sys
import warnings


def register_by_value(module_name: str) -> None:
    mod = sys.modules.get(module_name)
    if mod is None:
        return
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(mod)
    except Exception as e:  # noqa: BLE001 — the fallback below is by design
        # vendored cloudpickle too old / unavailable: fall back to requiring
        # --py-files (production behavior), but say so
        warnings.warn(
            f"cannot pickle {module_name} by value ({e!r}); Python workers "
            "will need the package on their path (--py-files)",
            RuntimeWarning,
        )
