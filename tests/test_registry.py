"""Registry hygiene: the pin list must reference real registered queries
(a typo'd or renamed name would otherwise silently fall out of the
correctness window — ADVICE r06), must exactly fill the 50-slot window,
and load_all() must honor pin order; names routed to a shared kernel
must stay registered with their oracle."""

from __future__ import annotations

from boxoffice_spark.registry import _PINNED, load_all

SPECS = load_all()


def test_pinned_names_exist():
    missing = [n for n in _PINNED if n not in SPECS]
    assert not missing, f"_PINNED names not in registry: {missing}"


def test_pinned_fills_driver_window_exactly():
    assert len(_PINNED) == 50
    assert len(set(_PINNED)) == 50


def test_pins_lead_load_order():
    head = list(SPECS)[: len(_PINNED)]
    assert head == _PINNED


def test_routed_names_stay_registered_with_oracle():
    """Each twin-kernel pair runs one kernel; both names of every pair
    stay registered and oracle-checked."""
    for name in (
        "t_dedup_clusters",
        "t_dedup_clusters_star",
        "t_simhash",
        "t_simhash_fast",
        "t_decontamination",
        "t_decontamination_bloom",
    ):
        assert name in SPECS, name
        assert SPECS[name].oracle is not None, name
