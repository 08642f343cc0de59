"""Contract-drift guards: the driver-facing artifacts must stay in
lockstep with the registry."""

from __future__ import annotations


def test_contract_inventory_in_sync():
    """INVENTORY.md (regenerated by tools/gen_inventory.py) must list
    exactly the registered queries with their oracle status — a stale
    inventory misreports coverage to the judge."""
    import os
    import re

    from mo_etl_spark.registry import all_queries
    from mo_etl_spark.session import ENGINE_ROOT

    qs = all_queries()
    text = open(os.path.join(ENGINE_ROOT, "INVENTORY.md")).read()
    listed = set(re.findall(r"^\| `([a-z0-9_]+)` \|", text, re.M))
    assert listed == set(qs), (
        sorted(set(qs) - listed),
        sorted(listed - set(qs)),
    )
    # oracle column agrees with the registry
    for name, spec in qs.items():
        row = re.search(rf"^\| `{name}` \| (\w+) \|", text, re.M)
        assert row, name
        want = "SQL" if spec.oracle else "rows"
        assert row.group(1) == want, (name, row.group(1), want)


def test_contract_entry_exports():
    """__spark_entry__ exports exactly the registry, and every oracle
    is non-empty SQL text."""
    import __spark_entry__ as e
    from mo_etl_spark.registry import all_queries

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(qs) == set(all_queries())
    assert set(os_) <= set(qs)
    assert all(isinstance(v, str) and v.strip() for v in os_.values())
