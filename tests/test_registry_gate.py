"""Guard the driver's first-50 correctness window.

The driver's CORRECTNESS gate checks exactly the first ``GATE_WINDOW``
entries of ``registry.QUERIES`` in dict order.  These tests make registry
growth safe: a new query can never silently evict a gated entry, and a
no-oracle entry can never occupy a window slot unless explicitly
allowlisted as rows-only-by-design.
"""

from commentsearchengine_spark.relational import registry


def test_window_is_exactly_gate_order():
    keys = list(registry.QUERIES)
    assert keys[: registry.GATE_WINDOW] == registry.GATE_ORDER


def test_window_entries_have_oracle_or_are_allowlisted():
    for name in registry.GATE_ORDER:
        _fn, sql = registry.QUERIES[name]
        if sql is None:
            assert name in registry.GATE_ROWS_ONLY_OK, (
                f"{name} has no oracle SQL and is not an allowlisted "
                "rows-only entry; it would render as err in the gate"
            )
        else:
            assert name not in registry.GATE_ROWS_ONLY_OK


def test_allowlist_names_only_window_entries():
    # the allow-list governs window entries only; a name outside the
    # window is dead weight that could hide a future oracle-less slot
    assert registry.GATE_ROWS_ONLY_OK <= set(registry.GATE_ORDER)


def test_no_oracle_by_design_entries_are_allowlisted():
    # the estimator and stemmer demos sit inside the window with no
    # oracle SQL; they are legal there only because they are
    # allowlisted as rows-only-by-design
    for name in ("approx_distinct", "search_stemmed_index"):
        assert name in registry.GATE_ROWS_ONLY_OK
        assert name in registry.GATE_ORDER


def test_every_query_is_either_gated_or_appended():
    # Newcomers land after the window; nothing is lost or duplicated.
    keys = list(registry.QUERIES)
    assert len(keys) == len(set(keys))
    assert set(registry.GATE_ORDER) <= set(keys)


def test_all_entries_callable_with_two_args():
    import inspect

    for name, (fn, _sql) in registry.QUERIES.items():
        params = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.default is inspect.Parameter.empty
            and p.kind
            in (
                inspect.Parameter.POSITIONAL_ONLY,
                inspect.Parameter.POSITIONAL_OR_KEYWORD,
            )
        ]
        assert len(params) <= 2, f"{name} needs more than (spark, sf_dir)"
