"""GeoRSS driver vs the reference's own fixtures — the field/value
tables of autotest/ogr/ogr_georss.py (atom_field_values and
ogr_georss_test_rss) reproduced."""

import pytest

from gdal_spark import georss as GR

from .conftest import reference_fixture

DATA = "autotest/ogr/data/georss"


ATOM_FIELDS = [
    ("title", "Atom draft-07 snapshot"),
    ("link_rel", "alternate"), ("link_type", "text/html"),
    ("link_href", "http://example.org/2005/04/02/atom"),
    ("link2_rel", "enclosure"), ("link2_type", "audio/mpeg"),
    ("link2_length", "1337"),
    ("link2_href", "http://example.org/audio/ph34r_my_podcast.mp3"),
    ("id", "tag:example.org,2003:3.2397"),
    ("updated", "2005/07/31 12:29:29+00"),
    ("published", "2003/12/13 08:29:29-04"),
    ("author_name", "Mark Pilgrim"),
    ("author_uri", "http://example.org/"),
    ("author_email", "f8dy@example.com"),
    ("contributor_name", "Sam Ruby"),
    ("contributor2_name", "Joe Gregorio"),
    ("content_type", "xhtml"), ("content_xml_lang", "en"),
    ("content_xml_base", "http://diveintomark.org/"),
]

RSS_WKTS = [
    "POINT (2 49)",
    "LINESTRING (2 48,2.1 48.1,2.2 48)",
    "POLYGON ((2 50,2.1 50.1,2.2 48.1,2.1 46.1,2 50))",
    "POLYGON ((2 49,2 49.5,2.2 49.5,2.2 49,2 49))",
]


@pytest.mark.parametrize("fname", ["atom_rfc_sample.xml",
                                   "atom_rfc_sample_atom_ns.xml"])
def test_georss_atom(spark, fname):
    rows = GR.read_georss(spark, reference_fixture(f"{DATA}/{fname}")).collect()
    r = sorted(rows, key=lambda x: x.fid)[0].asDict()
    for k, v in ATOM_FIELDS:
        assert r.get(k) == v, (k, r.get(k))
    assert '<div xmlns="http://www.w3.org/1999/xhtml">' in r["content"]


@pytest.mark.parametrize("fname", ["test_georss_simple.xml",
                                   "test_georss_gml.xml"])
def test_georss_rss_geometries(spark, fname):
    rows = sorted(GR.read_georss(spark, reference_fixture(f"{DATA}/{fname}")).collect(),
                  key=lambda r: r.fid)
    assert [r.geom_wkt for r in rows] == RSS_WKTS
    r0 = rows[0].asDict()
    assert r0["title"] == "A point"
    assert r0["pubDate"] == "2008/12/07 20:13:00+02"
    assert r0["category"] == "First category"
    assert r0["category_domain"] == "first_domain"
    assert r0["category2"] == "Second category"
    assert r0["category2_domain"] == "second_domain"
