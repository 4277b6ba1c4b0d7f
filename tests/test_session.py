"""``get_spark``'s default driver memory is sized from the machine."""

from __future__ import annotations

import os

import pytest

from nomenklatura_spark.session import _default_driver_memory

PAGE = 4096


def _machine(monkeypatch, physical_bytes: int) -> None:
    pages = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": physical_bytes // PAGE}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)


@pytest.mark.parametrize(
    "physical, expected",
    [
        (15 * 2**30, "7680m"),  # half of a 15 GiB machine
        (16 * 10**9, "7629m"),  # half of 16 GB, rounded down to whole MiB
        (64 * 2**30, "32768m"),  # exactly at the 32g cap
        (256 * 2**30, "32768m"),  # capped at 32g
    ],
)
def test_default_driver_memory_is_half_of_ram_capped_at_32g(
    monkeypatch, physical, expected
):
    _machine(monkeypatch, physical)
    assert _default_driver_memory() == expected

