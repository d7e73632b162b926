"""Gate ordering of the query registry: the driver gates the first
GATE_BUDGET names of all_queries(), which must be exactly the active
rotation, and a rotation name that is not registered must fail loudly
instead of silently burning a gate slot."""

from __future__ import annotations

import pytest

from cell_kn_mvp_etl_results_spark.plans import REGISTRY, all_queries, registry


def test_first_gate_budget_names_are_the_active_rotation():
    names = list(all_queries())
    assert len(names) == len(REGISTRY)
    assert sorted(names[: registry.GATE_BUDGET]) == sorted(registry._ACTIVE_GATED)
    # inside the budget, registration order
    seqs = [REGISTRY[n].seq for n in names[: registry.GATE_BUDGET]]
    assert seqs == sorted(seqs)


def test_unregistered_rotation_name_raises(monkeypatch):
    typo = registry._ACTIVE_GATED[:-1] + ("q_not_registered",)
    monkeypatch.setattr(registry, "_ACTIVE_GATED", typo)
    with pytest.raises(ValueError, match="q_not_registered"):
        all_queries()
