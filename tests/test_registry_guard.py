"""Guard for the query registry's observable surface.

Registry names and order with every oracle SQL text, the driver
contract's ``oracle_sql()`` map and ``tests/plan_pins.json`` hash to
the values pinned here.  A change that regroups or rewrites plan code
must leave all three byte-identical; a change that means to move one
updates its pin on purpose, in the same commit.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: sha256 of json.dumps([[name, spec.oracle], ...]) in registry order
REGISTRY_SHA256 = "95fa9618de185828e1c7090112ff5f2329a0c414b03024cd26acb93f41c3dd72"
#: sha256 of json.dumps(__spark_entry__.oracle_sql())
ORACLE_SQL_SHA256 = "872c5cf42215d2b572fa8bf495bfadd9730358009d791e865da5b624ed0efb74"
#: sha256 of the bytes of tests/plan_pins.json
PLAN_PINS_SHA256 = "9f84525db8f39a281a18d4fa8df3dbe32cc355d4850c7e3a41e84eee25138223"


def _sha256(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def test_registry_names_order_and_oracle_sql():
    from impala_cut_spark.plans import REGISTRY

    pairs = [[name, spec.oracle] for name, spec in REGISTRY.items()]
    assert _sha256(json.dumps(pairs).encode()) == REGISTRY_SHA256


def test_driver_oracle_sql():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", ROOT / "__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    assert _sha256(json.dumps(entry.oracle_sql()).encode()) == ORACLE_SQL_SHA256


def test_plan_pins():
    pins = (ROOT / "tests" / "plan_pins.json").read_bytes()
    assert _sha256(pins) == PLAN_PINS_SHA256
