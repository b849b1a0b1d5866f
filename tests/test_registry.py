"""Guard for the merged query registry (``plans.all_queries`` /
``all_oracles`` / ``rows_only_queries``): names in registry order, a
sha256 of each oracle SQL string in ``all_oracles`` order, and the
rows-only set, pinned against ``registry_pin.json``. A refactor of how
the plan modules are merged must leave all three exactly as they are;
adding or changing a query updates the pin in the same commit."""

from __future__ import annotations

import hashlib
import json
import os

from bigdata_usaspending_spark.plans import (
    all_oracles,
    all_queries,
    rows_only_queries,
)

_PIN = os.path.join(os.path.dirname(__file__), "registry_pin.json")


def test_registry_matches_pin():
    with open(_PIN, encoding="utf-8") as fh:
        pin = json.load(fh)
    assert list(all_queries()) == pin["queries"]
    got = {
        name: hashlib.sha256(sql.encode("utf-8")).hexdigest()
        for name, sql in all_oracles().items()
    }
    assert list(got) == list(pin["oracle_sql_sha256"])
    assert got == pin["oracle_sql_sha256"]
    assert sorted(rows_only_queries()) == pin["rows_only"]


def test_registry_queries_apply_the_session_confs(spark, sf_small):
    """A registry callable runs under ``session.RUNTIME_CONFS`` whatever
    the session it is handed: a session whose zone was moved off UTC is
    back on UTC after the call, and the query still runs."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "America/Los_Angeles")
        out = all_queries()["q_scan_project"](spark, sf_small)
        assert spark.conf.get(key) == "UTC"
        assert out.columns == ["c_name", "c_acctbal"]
        assert out.limit(1).count() == 1
    finally:
        spark.conf.set(key, old)


def test_registry_callables_keep_their_names():
    for name, fn in all_queries().items():
        assert fn.__wrapped__.__name__ == fn.__name__
