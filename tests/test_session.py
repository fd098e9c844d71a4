"""Session packaging: the executor zip is named per checkout."""

from gdal_spark import session


def test_package_zip_named_per_checkout():
    a = session._zip_base("/srv/checkout_a")
    b = session._zip_base("/srv/checkout_b")
    assert a != b
    assert a == session._zip_base("/srv/checkout_a")
