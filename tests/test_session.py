"""Session defaults sized to the host they run on."""

import pytest

from osmflat_rs_spark import session


@pytest.mark.parametrize(
    "ram_gb, want",
    [(None, "8g"), (4, "8g"), (15, "8g"), (20, "10g"), (31, "15g"), (32, "16g"), (128, "16g")],
)
def test_default_driver_memory_half_ram_clamped(monkeypatch, ram_gb, want):
    """Half of physical RAM, floored at 8g, capped at 16g; unknown RAM
    takes the floor."""
    monkeypatch.setattr(session, "_phys_ram_gb", lambda: ram_gb)
    assert session._default_driver_memory() == want


def test_default_offheap_shares_the_ram_probe(monkeypatch):
    monkeypatch.setattr(session, "_phys_ram_gb", lambda: 64)
    assert session._default_offheap() == "8g"
    monkeypatch.setattr(session, "_phys_ram_gb", lambda: None)
    assert session._default_offheap() == "2g"

