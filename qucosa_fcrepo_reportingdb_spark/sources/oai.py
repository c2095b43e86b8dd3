"""OAI-PMH incremental paginated source (SURVEY.md §2.1 S1, §3.2).

Architecture: the page fetch is a tiny driver-side action (one HTTP GET per
trigger — inherently sequential because each page's token comes from the
previous page), while ALL data processing (parse, filter, dedupe, merge)
is distributed DataFrame work. That matches Structured Streaming's split:
the driver computes offsets, executors process the batch.

The fetcher is injectable (`fetch(params) -> str | None`) so tests run
against the golden XML fixtures without a network — the same seam the
reference's tests use by mocking CloseableHttpClient
(OaiHarvesterTest.java:786-802).

Commit ordering (at-least-once, OaiHarvester.java:139-172): headers are
merged BEFORE the checkpoint is stored; a crash between the two re-harvests
from the old state and the keyed merge makes the replay idempotent.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qucosa_fcrepo_reportingdb_spark import schemas
from qucosa_fcrepo_reportingdb_spark.functions.filters import (
    qucosa_document_filter,
    valid_header_predicate,
)
from qucosa_fcrepo_reportingdb_spark.functions.oai_xml import (
    explode_headers,
    parse_oai_pages,
)
from qucosa_fcrepo_reportingdb_spark.operators.maintenance import (
    latest_checkpoint,
    retain_recent,
)
from qucosa_fcrepo_reportingdb_spark.streaming.state import (
    EMPTY_STATE,
    HarvestState,
    PageObservation,
    build_request_params,
    next_state,
    response_date_skew,
)
from qucosa_fcrepo_reportingdb_spark.tables import TableStore

import logging

_log = logging.getLogger(__name__)

Fetcher = Callable[[dict[str, str]], "str | None"]

OAI_HEADER_TABLE = "oai_header"
OAI_HEADER_STAGING_TABLE = "oai_header_staging"
OAI_RUN_RESULT_TABLE = "oai_run_result"


class OaiHarvestSource:
    def __init__(self, spark: SparkSession, store: TableStore, fetch: Fetcher,
                 header_filter=qucosa_document_filter,
                 fc3_compatibility: bool = False,
                 history_length: timedelta = timedelta(days=2)):
        self.spark = spark
        self.store = store
        self.fetch = fetch
        self.header_filter = header_filter
        self.fc3_compatibility = fc3_compatibility
        self.history_length = history_length
        self.last_harvest_failed = False

    # -- checkpoint I/O (S3/S7) ---------------------------------------------
    def load_state(self) -> HarvestState:
        if not self.store.exists(OAI_RUN_RESULT_TABLE):
            return EMPTY_STATE
        # a declared schema skips the schema-inference job a bare read runs
        rows = latest_checkpoint(self.store.read(
            OAI_RUN_RESULT_TABLE, schemas.OAI_RUN_RESULT_SCHEMA)).collect()
        if not rows:
            return EMPTY_STATE
        r = rows[0]
        return HarvestState(
            run_id=r.run_id,
            timestamp_of_run=r.timestamp_of_run,
            response_date=r.response_date,
            resumption_token=r.resumption_token,
            resumption_token_expiration_date=r.resumption_token_expiration_date,
            next_from_timestamp=r.next_from_timestamp,
        )

    def store_state(self, state: HarvestState) -> None:
        df = self.spark.createDataFrame(
            [(state.run_id, state.timestamp_of_run, state.response_date,
              state.resumption_token, state.resumption_token_expiration_date,
              state.next_from_timestamp)],
            schemas.OAI_RUN_RESULT_SCHEMA,
        )
        self.store.append(OAI_RUN_RESULT_TABLE, df,
                          schema=schemas.OAI_RUN_RESULT_SCHEMA)

    # -- one microbatch (S1 -> X1-X5 -> F1/F3 -> A4 -> S5 -> S7 -> S9) -------
    def harvest_once(self, now: datetime | None = None) -> HarvestState | None:
        """Fetch one page, merge its headers, advance the checkpoint.
        Returns the new state, or None when the fetch failed (T8: no
        checkpoint written, previous state stays current)."""
        start_of_run = now or datetime.now(timezone.utc).replace(tzinfo=None)
        last = self.load_state()
        params = build_request_params(last, self.fc3_compatibility,
                                      now=start_of_run)
        xml = self.fetch(params)
        if not xml:
            return None  # T8 failure isolation: no offset commit

        pages = parse_oai_pages(
            self.spark.createDataFrame([(xml,)], "xml string"), "xml"
        )
        page_row = pages.collect()[0]  # one page per trigger: 1-row collect
        if (page_row.response_date is None and not page_row.headers
                and not page_row.errors and page_row.resumption_token is None):
            # not a parseable OAI-PMH document -> failed run (T8): no
            # checkpoint write, previous state stays current
            # (reference: OaiHarvester.java:139-172,250-268)
            return None
        observation = PageObservation(
            response_date=page_row.response_date,
            resumption_token=page_row.resumption_token,
            resumption_token_expiration=page_row.resumption_token_expiration,
            errors=dict(page_row.errors or {}),
        )
        skew = response_date_skew(observation.response_date, start_of_run)
        if skew is not None:
            _log.warning(
                "Local server time and remote server time have a huge "
                "difference of %s (responseDate=%s, local=%s)",
                skew, observation.response_date, start_of_run)

        headers = explode_headers(pages).filter(valid_header_predicate())
        headers = self.header_filter(headers)

        # Append-log + compact: each page's headers land in an append-only
        # staging table (O(page) file append, no table rewrite); the keyed
        # merge into oai_header runs ONCE per completed token sequence.
        # At-least-once is preserved — the checkpoint is stored only after
        # the page is durably staged, and re-staging a replayed page is
        # deduplicated by the last-wins merge (A4).
        self.store.append(OAI_HEADER_STAGING_TABLE, headers,
                          schema=schemas.OAI_HEADER_SCHEMA)

        state = next_state(last, observation, start_of_run, self.fc3_compatibility)
        if not state.has_resumption_token:
            # sequence complete: compact staging into the CDC table
            # BEFORE the checkpoint is stored — headers-merged-before-
            # checkpoint is the commit ordering (a crash between the two
            # must leave an unadvanced checkpoint with headers safely
            # staged, never an advanced checkpoint whose headers sit only
            # in staging until some future sequence completes). The
            # compact is a last-wins keyed merge, so a replay after a
            # crash on the other side of the line is idempotent.
            self._compact_staging()
        self.store_state(state)

        if not state.has_resumption_token:
            # retention (T7/S9) once per sequence instead of per page
            cutoff = start_of_run - self.history_length
            checkpoints = self.store.read(OAI_RUN_RESULT_TABLE,
                                          schemas.OAI_RUN_RESULT_SCHEMA)
            self.store.overwrite(OAI_RUN_RESULT_TABLE,
                                 retain_recent(checkpoints, cutoff))
        return state

    def _compact_staging(self) -> None:
        """Keyed merge of the staged pages into oai_header via the store's
        mutation seam: O(table) rewrite on a plain TableStore, O(touched
        buckets) on a BucketedTableStore (operators/bucketed.py)."""
        staged = self.store.read(OAI_HEADER_STAGING_TABLE,
                                 schemas.OAI_HEADER_SCHEMA)
        self.store.merge_keyed(OAI_HEADER_TABLE, staged,
                               keys=["record_identifier"],
                               order_by=["datestamp"],
                               schema=schemas.OAI_HEADER_SCHEMA)
        self.store.overwrite(
            OAI_HEADER_STAGING_TABLE,
            self.spark.createDataFrame([], schemas.OAI_HEADER_SCHEMA))

    def harvest_available(self, max_pages: int = 1000) -> int:
        """Trigger.AvailableNow analog: page through until the resumption
        token sequence completes (T1 case-3 tight loop, without the 1 s
        politeness sleep since tests are fixture-backed).

        Sets ``last_harvest_failed`` so the continuous poll loop can
        apply the T1 case-4 full-interval backoff to a FETCH failure
        (returns-None, the most common failure mode for a down
        endpoint) — which raises no exception, and without the flag
        would read as an ordinary idle cycle and busy-loop once the last
        success is older than the poll interval."""
        pages = 0
        self.last_harvest_failed = False
        while pages < max_pages:
            state = self.harvest_once()
            pages += 1
            if state is None:
                self.last_harvest_failed = True
                break
            if not state.has_resumption_token:
                break
        return pages


def read_header_queue(store: TableStore, batch_size: int = 100) -> DataFrame:
    """S4: drain the CDC queue in bounded batches (LIMIT 100 in the
    reference — PostgrePersistenceService.java:288-336). Batch control, not
    ordering, is the contract."""
    return (
        store.read(OAI_HEADER_TABLE, schemas.OAI_HEADER_SCHEMA)
        .filter(valid_header_predicate())
        .limit(batch_size)
    )


def fixture_fetcher(pages: list[str]) -> Fetcher:
    """Deterministic fetcher for tests: returns the provided XML documents
    in order, then None."""
    it = iter(list(pages))

    def fetch(params: dict[str, str]) -> str | None:
        try:
            return next(it)
        except StopIteration:
            return None

    return fetch


def http_get(url: str, timeout_s: float = 30.0) -> "str | None":
    """One GET, body on 200, None on ANY failure — the single
    failure-isolating HTTP primitive both production fetchers (OAI pages
    here, METS lookups in sources/mets.py) build on, so a transport fix
    (retries, charset handling) reaches both."""
    import urllib.request

    try:
        with urllib.request.urlopen(url, timeout=timeout_s) as resp:
            if resp.status != 200:
                return None
            return resp.read().decode("utf-8")
    except Exception:
        return None


def http_fetcher(base_url: str, timeout_s: float = 30.0,
                 min_wait: timedelta = timedelta(seconds=1)) -> Fetcher:
    """Production fetcher: one GET per call with politeness spacing (T5).
    urllib only — no extra dependencies. The returned callable keeps its own
    last-request clock."""
    import time
    import urllib.parse

    last_call = [0.0]

    def fetch(params: dict[str, str]) -> str | None:
        elapsed = time.monotonic() - last_call[0]
        wait = min_wait.total_seconds() - elapsed
        if wait > 0:
            time.sleep(wait)
        last_call[0] = time.monotonic()
        return http_get(f"{base_url}?{urllib.parse.urlencode(params)}",
                        timeout_s)

    return fetch
