"""In-process OAI-PMH and METS endpoints for the benchmark.

The pipeline takes its fetchers by injection (``fetch(params)`` for OAI
pages, ``fetch(record_identifier)`` for METS). The OAI fetcher runs on the
driver. The METS fetcher runs inside ``mapInPandas`` workers, which unpickle
it by module path, so it lives in this importable module (the session puts
the checkout root on the workers' PYTHONPATH) and counts its calls through
a Spark accumulator.
"""

from __future__ import annotations

import time
from collections import Counter
from datetime import datetime, timezone

from pyspark.accumulators import AccumulatorParam

from perfbench import gen


def utc_now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


class CounterParam(AccumulatorParam):
    """Merges per-record call counts from the workers."""

    def zero(self, value):
        return Counter()

    def addInPlace(self, a, b):
        a.update(b)
        return a


class MetsServer:
    """METS documents by local id; every call adds 1 to the record's count
    in ``calls`` (an accumulator). Swap ``docs`` between pipeline runs; each
    enrich batch pickles the current mapping."""

    def __init__(self, calls):
        self.calls = calls
        self.docs: dict[str, str | None] = {}

    def __call__(self, record_identifier: str) -> str | None:
        self.calls.add(Counter([record_identifier]))
        local = record_identifier.split(":", 2)[-1] if record_identifier else ""
        return self.docs.get(local)


class BackfillOai:
    """Serves a ``gen.Backfill``'s pages in token order. A request must carry
    the token of the previous page; the first request carries none. Each
    page is rendered at request time with a wall-clock responseDate."""

    def __init__(self, data: gen.Backfill):
        self.data = data
        self.served = 0
        self.calls = 0
        self.violations: list[str] = []

    def __call__(self, params: dict[str, str]) -> str | None:
        self.calls += 1
        if self.served >= len(self.data.pages):
            self.violations.append(f"request after the last page: {params}")
            return None
        want = self.data.tokens[self.served - 1] if self.served else None
        if params.get("resumptionToken") != want:
            self.violations.append(
                f"page {self.served}: token {params.get('resumptionToken')!r}"
                f" != {want!r}")
            return None
        xml = self.data.page_xml(self.served, utc_now().replace(microsecond=0))
        self.served += 1
        return xml


class CdcOai:
    """Serves the one page of changes published for the current cycle, and
    checks that every record served has a datestamp at or after the
    request's ``from`` parameter (the harvest watermark)."""

    def __init__(self):
        self.page: list[gen.Change] = []
        self.calls = 0
        self.violations: list[str] = []

    def publish(self, changes: list[gen.Change]) -> None:
        self.page = changes

    def __call__(self, params: dict[str, str]) -> str | None:
        self.calls += 1
        since = params.get("from")
        if since is not None:
            floor = datetime.strptime(since, "%Y-%m-%dT%H:%M:%SZ")
            late = [c.header.local_id for c in self.page
                    if c.header.datestamp < floor]
            if late:
                self.violations.append(
                    f"{len(late)} records older than from={since}")
        changes, self.page = self.page, []
        return gen.render_page([c.header for c in changes],
                               utc_now().replace(microsecond=0), None)


def wall_clock() -> tuple[datetime, float]:
    """(UTC datetime, epoch seconds) of one instant."""
    now = time.time()
    return datetime.fromtimestamp(now, timezone.utc).replace(tzinfo=None), now
