"""Seeded input generator for the benchmark workloads.

Everything here is pure Python: the same seed gives byte-identical OAI-PMH
pages, METS documents and expected tables. Wall-clock values (the page's
``responseDate``, a CDC record's creation stamp) are arguments, so a caller
that passes fixed clocks gets fixed bytes.

Shapes follow the program's own fixtures (tests/fixtures_oai.py): OAI-PMH
2.0 ``ListIdentifiers`` pages, and METS/MODS documents built by that
module's ``mets_document``, whose three reporting fields the enricher
extracts.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

OAI_NS = "http://www.openarchives.org/OAI/2.0/"
HOST_PREFIX = "oai:example.org:"
PAGE_SIZE = 100

# Fedora system objects the qucosa id filter drops (regex .+qucosa:\d+).
SYSTEM_IDS = (
    "fedora-system:ContentModel-3.0",
    "fedora-system:FedoraObject-3.0",
    "fedora-system:ServiceDefinition-3.0",
    "fedora-system:ServiceDeployment-3.0",
    "qucosa:CModel",
    "qucosa:SDef",
    "qucosa:SDep",
)
MANDATORS = ("slub", "ubl", "tuc", "htwk", "hszg")
DOC_TYPES = ("article", "issue", "doctoral_thesis", "master_thesis",
             "book", "report")
REJECT_KINDS = ("missing", "unparseable", "blank_mandator", "bad_date")
REJECT_SHARE = 0.05
BAD_DATE = "31.12.2016"          # German notation: no parser format accepts it
HISTORY_START = datetime(2015, 1, 1)
DAY = timedelta(days=1)


def oai_timestamp(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def sql_timestamp(ts: datetime) -> str:
    """The rendering the benchmark compares table rows in."""
    return ts.strftime("%Y-%m-%d %H:%M:%S")


# --- METS documents ------------------------------------------------------

@dataclass(frozen=True)
class Mets:
    """What the METS server holds for one record. ``reject`` is None for a
    valid document, else one of REJECT_KINDS."""
    mandator: str
    document_type: str
    distribution_date: datetime      # UTC
    date_style: int                  # 0 bare date, 1 Z, 2 no-colon offset
    mods_prefix: str
    reject: str | None = None

    def date_raw(self) -> str:
        if self.reject == "bad_date":
            return BAD_DATE
        d = self.distribution_date
        if self.date_style == 0:
            return d.strftime("%Y-%m-%d")
        if self.date_style == 1:
            return oai_timestamp(d)
        # +0200 without a colon: the local wall clock is UTC + 2 h
        return (d + timedelta(hours=2)).strftime("%Y-%m-%dT%H:%M:%S+0200")

    def document(self) -> str | None:
        """The METS XML served for this record (None: not found), built by
        the program's own test fixture."""
        from tests.fixtures_oai import mets_document

        if self.reject == "missing":
            return None
        mandator = "   " if self.reject == "blank_mandator" else self.mandator
        xml = mets_document(mandator, self.document_type, self.date_raw(),
                            mods_prefix=self.mods_prefix)
        if self.reject == "unparseable":
            return xml[: len(xml) // 2]
        return xml

    def extracted(self) -> tuple[str | None, str | None, str | None]:
        """(mandator, document_type, distribution_date_raw) as the enricher
        extracts them; all None when there is no parseable document."""
        if self.reject in ("missing", "unparseable"):
            return (None, None, None)
        mandator = None if self.reject == "blank_mandator" else self.mandator
        return (mandator, self.document_type, self.date_raw())


def random_mets(rng: random.Random) -> Mets:
    style = rng.randrange(3)
    day = HISTORY_START - timedelta(days=rng.randrange(20 * 365))
    if style == 0:
        when = day
    else:
        when = day + timedelta(seconds=rng.randrange(86400))
    reject = rng.choice(REJECT_KINDS) if rng.random() < REJECT_SHARE else None
    return Mets(mandator=rng.choice(MANDATORS),
                document_type=rng.choice(DOC_TYPES),
                distribution_date=when, date_style=style,
                mods_prefix=rng.choice(("mods", "v3")), reject=reject)


# --- OAI headers and pages -----------------------------------------------

@dataclass(frozen=True)
class Header:
    local_id: str
    datestamp: datetime
    deleted: bool = False
    set_spec: tuple[str, ...] = ()

    @property
    def identifier(self) -> str:
        return HOST_PREFIX + self.local_id


def render_page(headers: list[Header], response_date: datetime,
                token: str | None, expiration: datetime | None = None,
                cursor: int = 0, complete_size: int = 0) -> str:
    """One ``ListIdentifiers`` response. ``token``: None = no
    resumptionToken element (single page), '' = empty element (last page of
    a sequence), else a live token carrying ``expiration``."""
    parts = []
    for h in headers:
        status = ' status="deleted"' if h.deleted else ""
        specs = "".join(f"<setSpec>{s}</setSpec>" for s in h.set_spec)
        parts.append(f"<header{status}><identifier>{h.identifier}</identifier>"
                     f"<datestamp>{oai_timestamp(h.datestamp)}</datestamp>"
                     f"{specs}</header>")
    if token is None:
        tok = ""
    elif token == "":
        tok = (f'<resumptionToken completeListSize="{complete_size}" '
               f'cursor="{cursor}"/>')
    else:
        tok = (f'<resumptionToken expirationDate="{oai_timestamp(expiration)}"'
               f' completeListSize="{complete_size}" cursor="{cursor}">'
               f"{token}</resumptionToken>")
    return ('<?xml version="1.0" encoding="UTF-8"?>'
            f'<OAI-PMH xmlns="{OAI_NS}">'
            f"<responseDate>{oai_timestamp(response_date)}</responseDate>"
            '<request verb="ListIdentifiers" metadataPrefix="oai_dc">'
            "http://localhost:8080/fedora/oai</request>"
            f"<ListIdentifiers>{''.join(parts)}{tok}</ListIdentifiers>"
            "</OAI-PMH>")


def random_set_spec(rng: random.Random) -> tuple[str, ...]:
    return tuple(f"ddc:{rng.randrange(1000):03d}"
                 for _ in range(rng.randrange(3)))


# --- expected tables -----------------------------------------------------

@dataclass
class Expected:
    """Expected contents of reporting_documents and its quarantine, keyed by
    record identifier. Rows are tuples of strings/None in the rendering
    ``pipeline_wl.table_rows`` produces."""
    documents: dict[str, tuple] = field(default_factory=dict)
    quarantine: dict[str, tuple] = field(default_factory=dict)

    def apply(self, header: Header, mets: Mets) -> None:
        """The enricher's effect of processing one queue row: a valid
        document upserts the reporting row, a rejected one upserts the
        quarantine row and leaves the reporting row alone."""
        rid = header.identifier
        modified = sql_timestamp(header.datestamp)
        if mets.reject is None:
            self.documents[rid] = (rid, mets.mandator, mets.document_type,
                                   sql_timestamp(mets.distribution_date),
                                   modified)
        else:
            self.quarantine[rid] = (rid, *mets.extracted(), modified)


# --- backfill ------------------------------------------------------------

@dataclass
class Backfill:
    """A first harvest: ``pages`` of headers chained by resumption tokens,
    the METS document behind each kept record, and the tables the pipeline
    must end with."""
    pages: list[list[Header]]
    tokens: list[str | None]
    mets: dict[str, Mets]            # local id -> METS
    expected: Expected
    kept_records: int                # distinct records that pass the filter

    def page_xml(self, i: int, response_date: datetime) -> str:
        total = sum(len(p) for p in self.pages)
        return render_page(self.pages[i], response_date, self.tokens[i],
                           response_date + timedelta(hours=1),
                           cursor=i * PAGE_SIZE, complete_size=total)


def backfill(seed: int, n_records: int) -> Backfill:
    """``n_records`` distinct documents (5% with deleted status), plus
    Fedora system ids the filter drops (2%) and repeats of earlier records
    on a later page (5%; the later page carries a later datestamp, so it
    wins)."""
    rng = random.Random(f"backfill:{seed}:{n_records}")
    numbers = rng.sample(range(1, 50 * max(n_records, 1)), n_records)
    entries: list[Header] = []
    for k in numbers:
        entries.append(Header(
            local_id=f"qucosa:{k}",
            datestamp=HISTORY_START + timedelta(
                seconds=rng.randrange(9 * 365 * 86400)),
            deleted=rng.random() < 0.05,
            set_spec=random_set_spec(rng)))
    for _ in range(round(n_records * 0.02)):
        entries.insert(rng.randrange(len(entries) + 1), Header(
            local_id=rng.choice(SYSTEM_IDS),
            datestamp=HISTORY_START + timedelta(days=rng.randrange(3000))))
    # a repeat sits at least one page after its original: a later page
    for _ in range(round(n_records * 0.05)):
        if len(entries) <= PAGE_SIZE:
            break
        i = rng.randrange(len(entries) - PAGE_SIZE)
        orig = entries[i]
        j = rng.randrange(i + PAGE_SIZE, len(entries) + 1)
        entries.insert(j, Header(
            local_id=orig.local_id,
            datestamp=orig.datestamp + timedelta(
                seconds=1 + rng.randrange(86400)),
            deleted=not orig.deleted,
            set_spec=random_set_spec(rng)))

    pages = [entries[i:i + PAGE_SIZE]
             for i in range(0, len(entries), PAGE_SIZE)]
    if len(pages) == 1:
        tokens: list[str | None] = [None]
    else:
        tokens = [f"rt-{seed}-{i + 1}" for i in range(len(pages) - 1)] + [""]

    mets: dict[str, Mets] = {}
    latest: dict[str, Header] = {}
    for h in entries:
        if h.local_id in SYSTEM_IDS:
            continue
        if h.local_id not in mets:
            mets[h.local_id] = random_mets(rng)
        latest[h.local_id] = h           # later page wins
    expected = Expected()
    for local_id, h in latest.items():
        expected.apply(h, mets[local_id])
    return Backfill(pages, tokens, mets, expected, kept_records=len(latest))


# --- CDC -----------------------------------------------------------------

def _salt(seed: int) -> int:
    """The seed folded small, so Spark's 64-bit arithmetic cannot overflow
    where Python's integers would not."""
    return seed % 9973


def seed_row(k: int, seed: int) -> tuple[str, str, int]:
    """(mandator, document_type, distribution day offset) of seeded row k.
    Plain integer arithmetic, so Spark (``seed_columns``) and Python agree
    exactly."""
    seed = _salt(seed)
    return (MANDATORS[(k * 7 + seed) % len(MANDATORS)],
            DOC_TYPES[(k * 13 + seed) % len(DOC_TYPES)],
            (k * 31 + seed * 17) % 7300)


SEED_MODIFIED = datetime(2020, 1, 1)
SEED_DATE_START = datetime(2000, 1, 1)


def seed_columns(seed: int) -> dict[str, str]:
    """Spark SQL expressions over ``id`` that build the seeded
    reporting_documents rows; mirrors ``seed_row``."""
    seed = _salt(seed)
    def pick(values, mul):
        arr = ", ".join(f"'{v}'" for v in values)
        return (f"element_at(array({arr}), "
                f"cast(pmod(id * {mul} + {seed}, {len(values)}) as int) + 1)")
    return {
        "record_identifier": f"concat('{HOST_PREFIX}qucosa:', id)",
        "mandator": pick(MANDATORS, 7),
        "document_type": pick(DOC_TYPES, 13),
        "distribution_date": (
            f"cast(date_add(date'{SEED_DATE_START:%Y-%m-%d}', "
            f"cast(pmod(id * 31 + {seed * 17}, 7300) as int)) as timestamp)"),
        "header_last_modified": f"timestamp'{sql_timestamp(SEED_MODIFIED)}'",
    }


def seed_report_counts(seed: int, base_rows: int) -> dict:
    """Documents per (mandator, document_type, year) over the seeded rows,
    computed with numpy by the same arithmetic as ``seed_row``."""
    seed = _salt(seed)
    k = np.arange(base_rows, dtype=np.int64)
    m = (k * 7 + seed) % len(MANDATORS)
    d = (k * 13 + seed) % len(DOC_TYPES)
    off = (k * 31 + seed * 17) % 7300
    days = np.datetime64(SEED_DATE_START.date()) + off.astype("timedelta64[D]")
    year = days.astype("datetime64[Y]").astype(np.int64) + 1970
    keys, counts = np.unique(np.stack([m, d, year]), axis=1,
                             return_counts=True)
    return {(MANDATORS[a], DOC_TYPES[b], int(y)): int(n)
            for (a, b, y), n in zip(keys.T, counts)}


@dataclass
class Change:
    header: Header
    mets: Mets
    created: float                   # wall-clock creation stamp (epoch s)


class CdcGenerator:
    """Change feed over a fact table seeded with ``base_rows`` rows. Each
    ``next_page`` makes a page of 100 changed records: about 60% updates of
    existing ids and 40% new ids, with ~5% METS rejects among them. The
    generator also keeps the expected tables: ``report_counts`` (documents
    per mandator x document_type x distribution year), the rows it has
    overridden, and the quarantine."""

    def __init__(self, seed: int, base_rows: int):
        self.seed = seed
        self.base_rows = base_rows
        self.rng = random.Random(f"cdc:{seed}:{base_rows}")
        self.next_id = base_rows
        self.expected = Expected()
        self.report_counts = seed_report_counts(seed, base_rows)

    def current(self, rid: str) -> tuple | None:
        """The expected reporting row of ``rid`` (None: no row)."""
        row = self.expected.documents.get(rid)
        if row is not None:
            return row
        k = int(rid.rsplit(":", 1)[1])
        if k >= self.base_rows:
            return None
        m, d, off = seed_row(k, self.seed)
        return (rid, m, d, sql_timestamp(SEED_DATE_START + off * DAY),
                sql_timestamp(SEED_MODIFIED))

    def next_page(self, created: datetime, created_s: float) -> list[Change]:
        """The next page of changes, all stamped ``created`` (the datestamp,
        UTC, whole seconds) and ``created_s`` (for freshness)."""
        ids = self.rng.sample(range(self.next_id), min(60, self.next_id))
        new = PAGE_SIZE - len(ids)
        ids += range(self.next_id, self.next_id + new)
        self.next_id += new
        stamp = created.replace(microsecond=0)
        return [Change(Header(local_id=f"qucosa:{k}", datestamp=stamp,
                              set_spec=random_set_spec(self.rng)),
                       random_mets(self.rng), created_s)
                for k in ids]

    def commit(self, changes: list[Change]) -> None:
        """Fold a processed page into the expected tables."""
        for c in changes:
            rid = c.header.identifier
            if c.mets.reject is None:
                old = self.current(rid)
                if old is not None:
                    self._count(old, -1)
            self.expected.apply(c.header, c.mets)
            if c.mets.reject is None:
                self._count(self.expected.documents[rid], +1)

    def _count(self, row: tuple, delta: int) -> None:
        key = (row[1], row[2], int(row[3][:4]))
        n = self.report_counts.get(key, 0) + delta
        if n:
            self.report_counts[key] = n
        else:
            self.report_counts.pop(key, None)

