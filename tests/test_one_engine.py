"""No public operator takes a plan selector: an ``engine`` or
``strategy`` argument, a ``broadcast_*`` join flag, or a
``checkpoint_dir``.

Each operator has one physical plan, or one rule that picks a plan from
its input or its session (centroid assignment picks literal or arrow from
k·dim; line_strip broadcasts when the measured boilerplate set fits
``spark.sql.autoBroadcastJoinThreshold``; iterative loops checkpoint
reliably when the session sets ``spark.checkpoint.dir``). A second plan
is not a caller's choice: it is chosen from the input or the session, or
it lives in a test as the bit-identity reference for the plan the
package runs, so every plan in the package is one that production runs.
No Spark session starts.
"""
from __future__ import annotations

import importlib
import inspect
import pkgutil

import ocr_spark.operators

SELECTORS = {"engine", "strategy", "checkpoint_dir"}


def is_selector(param: str) -> bool:
    return param in SELECTORS or param.startswith("broadcast_")


def selector_params() -> dict[str, set[str]]:
    found = {}
    for info in pkgutil.iter_modules(ocr_spark.operators.__path__):
        mod = importlib.import_module(f"ocr_spark.operators.{info.name}")
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("_") or fn.__module__ != mod.__name__:
                continue
            hit = set(filter(is_selector, inspect.signature(fn).parameters))
            if hit:
                found[f"{mod.__name__}.{name}"] = hit
    return found


def test_no_public_operator_takes_an_engine_selector():
    assert selector_params() == {}
