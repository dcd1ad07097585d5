"""Pin the driver contract of ``__spark_entry__``.

The four views ``queries``, ``oracle_sql``, ``extra_queries`` and
``extra_oracle_sql`` must return the ordered keys, builder functions and
oracle SQL recorded in ``tests/fixtures/query_contract.json``. No Spark
session starts: building the views only constructs dicts.

After an intended contract change, regenerate the golden with

  python tests/test_query_registry.py > tests/fixtures/query_contract.json
"""
from __future__ import annotations

import hashlib
import json
import os
import pathlib
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e  # noqa: E402

GOLDEN = pathlib.Path(__file__).parent / "fixtures" / "query_contract.json"
VIEWS = ("queries", "oracle_sql", "extra_queries", "extra_oracle_sql")


def contract() -> dict[str, dict[str, str]]:
    """Each view as ``{name: builder.__name__ or sha256(sql)}``, in order."""
    return {
        view: {
            k: hashlib.sha256(v.encode()).hexdigest()
            if isinstance(v, str) else v.__name__
            for k, v in getattr(e, view)().items()
        }
        for view in VIEWS
    }


@pytest.mark.parametrize("view", VIEWS)
def test_view_matches_golden(view):
    # compared as item lists: key order is part of the contract
    got = list(contract()[view].items())
    assert got == list(json.loads(GOLDEN.read_text())[view].items())


def test_gate_and_extras_are_disjoint():
    assert not set(e.queries()) & set(e.extra_queries())


def test_every_oracle_has_a_builder():
    assert set(e.oracle_sql()) <= set(e.queries())
    assert set(e.extra_oracle_sql()) <= set(e.extra_queries())


if __name__ == "__main__":
    print(json.dumps(contract(), indent=1))
