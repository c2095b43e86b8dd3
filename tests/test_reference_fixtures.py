"""Byte-level compatibility with the REFERENCE's own golden test fixtures
(read directly from the read-only reference checkout when present; skipped
elsewhere). Expected tuples come from the reference's test assertions
(OaiHarvesterTest.java:91-155, MetsProcessorTest.java:91-306)."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark.functions.filters import (
    qucosa_document_filter,
)
from qucosa_fcrepo_reportingdb_spark.functions.mets_xml import (
    extract_mets_fields,
)
from qucosa_fcrepo_reportingdb_spark.functions.oai_xml import (
    explode_headers,
    parse_oai_pages,
)
from qucosa_fcrepo_reportingdb_spark.functions.timestamps import (
    parse_xsd_datetime,
)

REF = "/root/reference/src/test/resources"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference checkout not present")


def _read(path):
    with open(os.path.join(REF, path), encoding="utf-8") as fh:
        return fh.read()


def _parse(spark, xml):
    return parse_oai_pages(spark.createDataFrame([(xml,)], "xml string"))


def test_reference_list_identifiers_golden_tuples(spark):
    rows = explode_headers(_parse(spark, _read("oai/listIdentifiers.xml"))) \
        .orderBy("record_identifier").collect()
    assert [(r.record_identifier, r.datestamp, r.set_spec,
             r.status_is_deleted) for r in rows] == [
        ("oai:example.org:qucosa:1044",
         datetime(2014, 5, 6, 17, 33, 25), [], False),
        ("oai:example.org:qucosa:1234",
         datetime(2016, 7, 12, 17, 33, 25), ["test:11", "test:22"], True),
    ]


def test_reference_resumption_token_page(spark):
    row = _parse(spark, _read("oai/resumptionToken.xml")).collect()[0]
    assert row.resumption_token == "111111111111111"
    assert row.resumption_token_expiration == datetime(2014, 6, 9, 18, 34, 15)


def test_reference_empty_token_page(spark):
    row = _parse(spark, _read("oai/emptyResumptionToken.xml")).collect()[0]
    assert row.resumption_token == ""


def test_reference_error_pages(spark):
    nr = _parse(spark, _read("oai/errorNoRecordsMatch.xml")).collect()[0]
    assert list(nr.errors) == ["noRecordsMatch"]
    bt = _parse(spark, _read("oai/errorBadResumptionToken.xml")).collect()[0]
    assert list(bt.errors) == ["badResumptionToken"]
    multi = _parse(spark, _read("oai/multipleErrors.xml")).collect()[0]
    assert set(multi.errors) == {"badArgument", "badVerb",
                                 "cannotDisseminateFormat", "noSetHierarchy"}


def test_reference_filter_corpus_13_to_6(spark):
    headers = explode_headers(
        _parse(spark, _read("oai/ListIdentifiersToFilter.xml")))
    assert headers.count() == 13
    assert qucosa_document_filter(headers).count() == 6


@pytest.mark.parametrize("fixture,expected", [
    ("mets/qucosa13-mets.xml", ("SLUB", "issue", datetime(2008, 8, 4))),
    ("mets/qucosa22-mets.xml",
     ("TU Dresden", "issue", datetime(2011, 3, 31))),
    # no-colon offset +0200 -> 10:33:56 UTC (MetsProcessorTest.java:262-306)
    ("mets/qucosa7455-mets.xml",
     ("slub", "in_book", datetime(2016, 5, 24, 10, 33, 56))),
    ("mets/qucosa31790-mets.xml",
     ("slub", "article", datetime(2016, 10, 10, 9, 27, 33))),
])
def test_reference_mets_extraction(spark, fixture, expected):
    mandator, document_type, date_raw = extract_mets_fields(_read(fixture))
    dd = (spark.createDataFrame([(date_raw,)], "raw string")
          .select(parse_xsd_datetime(F.col("raw"))).first()[0])
    assert (mandator, document_type, dd) == expected


def test_reference_incomplete_mets_rejected():
    # qucosa31789 lacks metsHdr and div/@TYPE -> must extract nothing usable
    mandator, document_type, _ = extract_mets_fields(
        _read("mets/qucosa31789-mets.xml"))
    assert mandator is None and document_type is None


def test_mets_extraction_ignores_foreign_namespace_collisions():
    """Round-5 directive 7: the reference's XPath binds mets:/mods:
    prefixes to their namespace URIs (MetsProcessor.java:67-69,81-85),
    so an element with the RIGHT local name in the WRONG namespace must
    never extract. Our ElementTree finds use {uri}tag qualification —
    this pins that an adversarial document full of colliding local names
    in a foreign namespace (a) extracts nothing when the real elements
    are absent, and (b) never shadows the real elements when both are
    present."""
    evil = (
        '<?xml version="1.0"?>'
        '<mets xmlns="http://www.loc.gov/METS/" xmlns:x="http://evil.example/ns">'
        '<x:metsHdr><x:agent ROLE="EDITOR"><x:name>EVIL</x:name></x:agent>'
        "</x:metsHdr>"
        '<x:structMap TYPE="LOGICAL"><x:div TYPE="evil_type"/></x:structMap>'
        '<x:mods><x:originInfo eventType="distribution">'
        "<x:dateIssued>1999-01-01</x:dateIssued></x:originInfo></x:mods>"
        "</mets>"
    )
    assert extract_mets_fields(evil) == (None, None, None)

    # both present: the namespace-bound elements win, foreign ones are
    # invisible even when they come FIRST in document order
    both = (
        '<?xml version="1.0"?>'
        '<mets xmlns:mets="http://www.loc.gov/METS/" '
        'xmlns:m="http://www.loc.gov/mods/v3" '
        'xmlns:x="http://evil.example/ns">'
        '<x:structMap TYPE="LOGICAL"><x:div TYPE="evil_type"/></x:structMap>'
        '<mets:metsHdr><mets:agent ROLE="EDITOR">'
        "<mets:name>SLUB</mets:name></mets:agent></mets:metsHdr>"
        '<mets:structMap TYPE="LOGICAL"><mets:div TYPE="issue"/>'
        "</mets:structMap>"
        '<x:originInfo eventType="distribution">'
        "<x:dateIssued>1999-01-01</x:dateIssued></x:originInfo>"
        '<m:mods><m:originInfo eventType="distribution">'
        "<m:dateIssued>2008-08-04</m:dateIssued></m:originInfo></m:mods>"
        "</mets>"
    )
    assert extract_mets_fields(both) == ("SLUB", "issue", "2008-08-04")
