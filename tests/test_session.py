"""Session settings: the executor zip is named per checkout, and the
driver memory follows the machine."""

import pytest

from gdal_spark import session


def test_package_zip_named_per_checkout():
    a = session._zip_base("/srv/checkout_a")
    b = session._zip_base("/srv/checkout_b")
    assert a != b
    assert a == session._zip_base("/srv/checkout_a")


@pytest.mark.parametrize("phys, want", [
    (16_874_930_176, "8g"),   # a "16 GB" VM: 15.7 GiB
    (64 * 2 ** 30, "8g"),
    (8 * 2 ** 30, "4g"),
    (6 * 2 ** 30, "3g"),
    (2 ** 30, "1g"),
])
def test_driver_memory_is_half_the_machine_up_to_8g(monkeypatch, phys, want):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys // 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    assert session._driver_memory() == want


def test_driver_memory_without_sysconf(monkeypatch):
    def unknown(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", unknown)
    assert session._driver_memory() == "8g"
