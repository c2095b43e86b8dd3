"""METS/MODS metadata extraction (SURVEY.md §2.3 X6, X10).

The reference XPath-extracts three reporting attributes with bound
namespace prefixes (MetsProcessor.java:67-69,81-85,221-251):

  mandator          //mets:metsHdr/mets:agent[@ROLE='EDITOR']/mets:name
  documentType      //mets:structMap[@TYPE='LOGICAL']/mets:div/@TYPE
  distributionDate  //mods:originInfo[@eventType='distribution']/mods:dateIssued

Namespace awareness is mandatory: fixtures bind the MODS namespace to
varying prefixes (``v3`` in qucosa13-mets.xml), so Spark's prefix-literal
``xpath_*`` functions cannot match reliably. Extraction is therefore a
plain Python function over stdlib ElementTree, one parse per document.
It runs where the document already is: inside the ``mapInPandas`` fetch
pass (sources/mets.py), so the XML never crosses into the JVM and every
later action over the batch is JVM-only.

X10 (local-id extraction oai:example.org:qucosa:123 -> qucosa:123,
MetsProcessor.java:285-287) stays JVM-side as regexp_extract.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import Column
from pyspark.sql import functions as F

METS_NS = "http://www.loc.gov/METS/"
MODS_NS = "http://www.loc.gov/mods/v3"


def extract_mets_fields(
        xml: str | None) -> tuple[str | None, str | None, str | None]:
    """(mandator, document_type, distribution_date_raw) of one METS
    document; each is None when absent or blank, all three when the
    document is missing or unparsable. Validation (reject blank
    mandator/document_type or unparsable date, F4) is a separate step:
    filters.validate_reporting_documents."""
    if not xml:
        return (None, None, None)
    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return (None, None, None)
    mandator = None
    el = root.find(
        f".//{{{METS_NS}}}metsHdr/{{{METS_NS}}}agent[@ROLE='EDITOR']/{{{METS_NS}}}name"
    )
    if el is not None and el.text:
        mandator = el.text.strip() or None
    document_type = None
    div = root.find(f".//{{{METS_NS}}}structMap[@TYPE='LOGICAL']/{{{METS_NS}}}div")
    if div is not None:
        document_type = (div.get("TYPE") or "").strip() or None
    date_raw = None
    el = root.find(
        f".//{{{MODS_NS}}}originInfo[@eventType='distribution']/{{{MODS_NS}}}dateIssued"
    )
    if el is not None and el.text:
        date_raw = el.text.strip() or None
    return (mandator, document_type, date_raw)


def local_identifier(col: Column | str) -> Column:
    """X10: strip the OAI prefix — 'oai:example.org:qucosa:123' ->
    'qucosa:123' (MetsProcessor.java:285-287: substring after the host part)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, r"^oai:[^:]+:(.+)$", 1)
