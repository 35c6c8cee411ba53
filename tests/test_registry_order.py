"""Registry iteration order contract.

`queries()` / `oracle_sql()` iterate QUERIES, whose order is plain
@register() call order: nothing reorders it after the operator modules
are imported, so the order is a function of the code alone.
"""

from __future__ import annotations

import os
import subprocess
import sys

from stream_ingestion_amazon_kinesis_spark.plans.registry import (
    QUERIES,
    _load_all,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A fresh interpreter, so the recorder is installed before any operator
# module binds `register` at import.
_RECORD_ORDER = r"""
import sys

sys.path.insert(0, {repo!r})

from stream_ingestion_amazon_kinesis_spark.plans import registry

calls = []
_register = registry.register


def recording_register(name, *args, **kwargs):
    calls.append(name)
    return _register(name, *args, **kwargs)


registry.register = recording_register
registry._load_all()
assert list(registry.QUERIES) == calls, "QUERIES order != @register order"
print(len(calls))
"""


def test_iteration_order_is_registration_order():
    out = subprocess.run(
        [sys.executable, "-c", _RECORD_ORDER.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.split()[-1]) == 378


def test_reload_keeps_keys_and_order_and_contract_size():
    _load_all()
    before = list(QUERIES.items())
    _load_all()
    assert list(QUERIES.items()) == before
    assert len(QUERIES) == 378
    assert sum(1 for s in QUERIES.values() if s.oracle is not None) == 371
