"""Every public ``__all__`` in the package names something that exists: a
stale entry breaks ``from edspdf_spark.<pkg> import *`` while every
direct import still passes."""

from __future__ import annotations

import importlib
import pkgutil

import edspdf_spark


def test_every_all_entry_resolves():
    found = pkgutil.walk_packages(edspdf_spark.__path__, "edspdf_spark.")
    mods = [edspdf_spark] + [importlib.import_module(m.name) for m in found]
    # every package re-exports its public names through __all__
    no_all = [m.__name__ for m in mods if hasattr(m, "__path__") and not hasattr(m, "__all__")]
    assert no_all == []
    with_all = [m for m in mods if hasattr(m, "__all__")]
    missing = [
        f"{m.__name__}.{name}" for m in with_all for name in m.__all__ if not hasattr(m, name)
    ]
    assert missing == []
    for m in with_all:
        ns: dict = {}
        exec(f"from {m.__name__} import *", ns)
        assert set(m.__all__) <= set(ns), m.__name__
