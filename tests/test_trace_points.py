"""perfbench's ``--trace 1`` wraps the engine entry points named in
``perfbench.trace.LAYER_POINTS``; a renamed or moved target would make
every traced run raise. Spark-free: imports and attribute lookups only."""

from __future__ import annotations

import importlib

from perfbench.trace import LAYER_POINTS


def test_every_layer_point_resolves():
    for mod_name, owner, attr, span in LAYER_POINTS:
        mod = importlib.import_module(mod_name)
        if owner is None:
            assert callable(getattr(mod, attr, None)), span
        else:
            # layer_spans reads the class __dict__, not an inherited name
            assert attr in getattr(mod, owner).__dict__, span
