"""Registry invariants: ``all_queries()`` is a deterministic merge of
the query modules, and every rows-only entry says why it has no
oracle."""

from __future__ import annotations

from providenciasbigdata_spark.queries import all_queries, why_no_oracle


def test_every_rows_only_entry_has_a_reason():
    rows_only = {n for n, (_fn, sql) in all_queries().items() if sql is None}
    reasons = why_no_oracle()
    missing = rows_only - reasons.keys()
    stale = reasons.keys() - rows_only
    assert not missing, f"rows-only entries without why_no_oracle: {missing}"
    assert not stale, f"why_no_oracle keys not rows-only (or gone): {stale}"
    assert all(len(v) > 20 for v in reasons.values()), "reasons must be substantive"


def test_registry_order_is_deterministic():
    a = list(all_queries())
    b = list(all_queries())
    assert a == b


def test_duplicate_query_name_raises(monkeypatch):
    import types

    import pytest

    from providenciasbigdata_spark import queries

    twin = types.SimpleNamespace(QUERIES={next(iter(all_queries())): (None, None)})
    monkeypatch.setattr(queries, "_MODULES", queries._MODULES + (twin,))
    with pytest.raises(ValueError, match="duplicate query names"):
        all_queries()


def test_every_headline_name_resolves():
    """bench.py sweeps HEADLINE through the registry; a renamed or
    removed query must fail here, not midway through a sweep."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in all_queries()]
    assert not missing, f"bench.HEADLINE names not in the registry: {missing}"
