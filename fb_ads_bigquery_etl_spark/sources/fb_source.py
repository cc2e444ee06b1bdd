"""Facebook Ads Insights DataSource (reference S1-S6, C1) — Spark 4
Python DataSource with date + column pushdown.

Reference behavior re-expressed (all of main.py:262-342 / backfill.py:49-119):
  * one paginated GET stream per (account_id, date) — here one *input
    partition* per (account, day), so a 30-day × 50-account backfill
    fans out to 1500 parallel reader tasks instead of the reference's
    sequential double loop (backfill.py:212-230);
  * pagination: cursor-follow `while next_url` generator inside the
    partition reader (main.py:297-324);
  * bounded retry (3 attempts / 30 s timeout, main.py:294-295) inside the
    reader, with Spark task retry as the outer layer;
  * per-account error isolation (main.py:482-498): a failing account
    raises in its own task; `error_isolation=true` degrades it to an
    empty partition and records the failure;
  * date-range pushdown: `time_range` API params (backfill.py:82-83)
    instead of post-scan filters;
  * column pruning -> the API `fields=` list (main.py:274-287).

Networking is injected via a transport so tests (and this container,
which has no network) use a deterministic fake; the HTTP transport is
import-gated on `requests`.
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Iterator
from dataclasses import dataclass
from datetime import date, timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from fb_ads_bigquery_etl_spark.schema import RAW_INSIGHTS_SCHEMA

API_FIELDS = [  # reference main.py:274-287
    "campaign_name",
    "ad_name",
    "impressions",
    "clicks",
    "spend",
    "date_start",
    "date_stop",
    "video_continuous_2_sec_watched_actions",
    "video_30_sec_watched_actions",
    "video_avg_time_watched_actions",
    "video_p25_watched_actions",
    "video_p50_watched_actions",
    "video_p75_watched_actions",
    "video_p100_watched_actions",
    "actions",
    "results",
]


class GraphApiError(IOError):
    """Graph API failure carrying enough detail for retry classification.

    Reference main.py:326-340 distinguishes auth-class failures (HTTP
    401/403, FB error codes 190 "invalid token" / 104 "no token") from
    transient ones; auth failures must fail fast, not burn retries.
    """

    def __init__(self, message: str, *, status: int | None = None, fb_code: int | None = None):
        super().__init__(message)
        self.status = status
        self.fb_code = fb_code

    @property
    def is_fatal_auth(self) -> bool:
        return self.status in (401, 403) or self.fb_code in (190, 104)


def _is_fatal(exc: Exception) -> bool:
    return isinstance(exc, GraphApiError) and exc.is_fatal_auth


class CredentialProvider:
    """C1 (main.py:71-255) — token acquisition stays on the driver; the
    short-lived token ships to partition readers as a plain string."""

    def get_token(self) -> str:
        raise NotImplementedError


class SecretStore:
    """Pluggable secret backend (reference: GCP Secret Manager,
    main.py:71-90). Tests use the in-memory fake; a real deployment
    plugs in its own store here."""

    def get_secret(self, name: str) -> str:
        raise NotImplementedError

    def set_secret(self, name: str, value: str) -> None:
        raise NotImplementedError


class InMemorySecretStore(SecretStore):
    def __init__(self, initial: dict[str, str] | None = None):
        self._data = dict(initial or {})
        self.writes: list[tuple[str, str]] = []  # write-back audit for tests

    def get_secret(self, name: str) -> str:
        return self._data[name]

    def set_secret(self, name: str, value: str) -> None:
        self._data[name] = value
        self.writes.append((name, value))


class TokenService:
    """Graph OAuth endpoints seam (debug_token + fb_exchange_token)."""

    def introspect_expiry(self, token: str) -> int:
        """Unix seconds at which `token` expires (main.py:97-127:
        GET /debug_token -> data.expires_at). 0 means never-expiring."""
        raise NotImplementedError

    def exchange_token(self, token: str) -> str:
        """Long-lived-token exchange (main.py:130-155:
        GET /oauth/access_token?grant_type=fb_exchange_token)."""
        raise NotImplementedError


class FakeTokenService(TokenService):
    """Deterministic offline stand-in: expiries injected per token."""

    def __init__(self, expiries: dict[str, int]):
        self.expiries = dict(expiries)
        self.exchanges = 0

    def introspect_expiry(self, token: str) -> int:
        try:
            return self.expiries[token]
        except KeyError:
            raise GraphApiError(f"invalid token {token!r}", status=401, fb_code=190)

    def exchange_token(self, token: str) -> str:
        self.exchanges += 1
        new = f"{token}.refreshed{self.exchanges}"
        # Graph long-lived tokens last ~60 days (main.py README contract).
        self.expiries[new] = self.introspect_expiry(token) + 60 * 86400
        return new


class RefreshingTokenProvider(CredentialProvider):
    """C1 token get/refresh control plane (reference main.py:158-255).

    Semantics mirrored: read token from the secret store, introspect its
    expiry via debug_token, and when it expires within `refresh_window_days`
    (reference: 7 — main.py:205-218) exchange it for a fresh long-lived
    token and write it back to the store (main.py:226-237). A
    never-expiring token (expires_at == 0) is used as-is.
    """

    SECRET_NAME = "fb-ads-token"

    def __init__(
        self,
        store: SecretStore,
        service: TokenService,
        *,
        secret_name: str = SECRET_NAME,
        refresh_window_days: int = 7,
        now_fn=time.time,
    ):
        self._store = store
        self._service = service
        self._secret_name = secret_name
        self._window_s = refresh_window_days * 86400
        self._now = now_fn

    def get_token(self) -> str:
        token = self._store.get_secret(self._secret_name)
        expires_at = self._service.introspect_expiry(token)
        if expires_at == 0:  # never-expiring system token: use as-is
            return token
        if expires_at - self._now() > self._window_s:
            return token
        try:
            fresh = self._service.exchange_token(token)
        except Exception as exc:
            # Reference main.py get_valid_token: a transient exchange
            # failure inside the refresh window falls back to the
            # still-valid current token (the refresh retries next run)
            # rather than failing the whole daily load. Only raise when
            # the token is actually expired or the failure is auth-fatal
            # (a dead token can't be "fallen back" to).
            if _is_fatal(exc) or expires_at <= self._now():
                raise
            return token
        self._store.set_secret(self._secret_name, fresh)
        return fresh


@dataclass
class FbPage:
    data: list[dict]
    next_cursor: str | None


class Transport:
    """One page of insights for (account, day, cursor)."""

    def fetch_page(
        self, token: str, account_id: str, day: str, fields: list[str], cursor: str | None
    ) -> FbPage:
        raise NotImplementedError


class FakeGraphTransport(Transport):
    """Deterministic offline stand-in for the Graph API.

    Synthesizes `rows_per_day` ad rows per (account, day), split into
    pages of `page_size`, with planted duplicates — enough structure to
    exercise pagination, dedup, and flattening end-to-end.
    """

    def __init__(
        self,
        rows_per_day: int = 25,
        page_size: int = 10,
        fail_accounts=(),
        fetch_log: str | None = None,
    ):
        self.rows_per_day = rows_per_day
        self.page_size = page_size
        self.fail_accounts = set(fail_accounts)
        # Test seam: append one line per page fetch so tests can assert
        # the pipeline reads the source exactly once per run (O_APPEND
        # writes from worker processes are line-atomic on Linux).
        self.fetch_log = fetch_log

    def _row(self, account_id: str, day: str, i: int) -> dict:
        h = int(hashlib.md5(f"{account_id}|{day}|{i}".encode()).hexdigest()[:8], 16)
        return {
            "campaign_name": f"campaign_{h % 7}",
            "ad_name": f"ad_{i % (self.rows_per_day // 2 or 1)}",
            "publisher_platform": ("facebook", "instagram", "audience_network")[i % 3],
            "impressions": str(100 + h % 5000),
            "clicks": str(h % 97),
            "spend": f"{(h % 10000) / 100:.2f}",
            "date_start": day,
            "date_stop": day,
            "video_p25_watched_actions": [{"value": str(h % 300)}] if i % 2 else [],
            "actions": [
                {"action_type": "link_click", "value": str(h % 50)},
                {"action_type": "offsite_conversion.fb_pixel_lead", "value": str(h % 5)},
            ],
            "account_id": account_id,
        }

    def fetch_page(self, token, account_id, day, fields, cursor) -> FbPage:
        if self.fetch_log:
            with open(self.fetch_log, "a") as fh:
                fh.write(f"{account_id}|{day}|{cursor}\n")
        if account_id in self.fail_accounts:
            raise GraphApiError(
                f"account {account_id}: simulated auth error", status=401, fb_code=190
            )
        start = int(cursor) if cursor else 0
        rows = [
            self._row(account_id, day, i)
            for i in range(start, min(start + self.page_size, self.rows_per_day))
        ]
        nxt = start + self.page_size
        return FbPage(rows, str(nxt) if nxt < self.rows_per_day else None)


class HttpGraphTransport(Transport):
    """Real Graph API transport (requires `requests` + network)."""

    GRAPH = "https://graph.facebook.com/v22.0"

    def fetch_page(self, token, account_id, day, fields, cursor):
        import requests  # import-gated: not exercised in this container

        params = {
            "access_token": token,
            "level": "ad",
            "fields": ",".join(fields),
            "breakdowns": "publisher_platform",
            "time_increment": "1",
            "time_range": json.dumps({"since": day, "until": day}),
            "limit": 500,
        }
        url = cursor or f"{self.GRAPH}/act_{account_id}/insights"
        resp = requests.get(url, params=None if cursor else params, timeout=30)
        if resp.status_code >= 400:
            try:
                fb_code = resp.json().get("error", {}).get("code")
            except Exception:
                fb_code = None
            raise GraphApiError(
                f"Graph API HTTP {resp.status_code} for {account_id}/{day}",
                status=resp.status_code,
                fb_code=fb_code,
            )
        payload = resp.json()
        return FbPage(
            payload.get("data", []),
            payload.get("paging", {}).get("next"),
        )


def _retrying_pages(
    transport: Transport,
    token: str,
    account_id: str,
    day: str,
    fields: list[str],
    *,
    max_retries: int = 3,
    backoff_s: float = 0.0,
) -> Iterator[dict]:
    """Cursor-follow pagination with bounded retry (main.py:294-340)."""
    cursor: str | None = None
    while True:
        page = None
        for attempt in range(max_retries):
            try:
                page = transport.fetch_page(token, account_id, day, fields, cursor)
                break
            except Exception as exc:
                # Auth-class failures (401/403, FB 190/104) cannot succeed
                # on retry — surface immediately (main.py:326-340).
                if _is_fatal(exc) or attempt == max_retries - 1:
                    raise
                if backoff_s:
                    time.sleep(backoff_s * (2**attempt))
        assert page is not None
        yield from page.data
        if page.next_cursor is None:
            return
        cursor = page.next_cursor


class _FbPartition(InputPartition):
    def __init__(self, account_id: str, day: str):
        self.account_id = account_id
        self.day = day


_TRANSPORTS = {"fake": FakeGraphTransport, "http": HttpGraphTransport}


class FbInsightsReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.accounts = [a for a in options.get("accounts", "").split(",") if a]
        self.start = options.get("start_date") or options.get("date")
        self.end = options.get("end_date") or options.get("date")
        if not self.accounts or not self.start or not self.end:
            raise ValueError("fb_insights requires accounts, start_date/end_date (or date)")
        self.token = options.get("token", "TEST_TOKEN")
        self.transport_name = options.get("transport", "fake")
        # lower(): callers passing a Python bool through option() arrive
        # as "True"/"False" — must not silently disable isolation
        self.error_isolation = (
            str(options.get("error_isolation", "true")).lower() == "true"
        )
        self.fail_accounts = tuple(
            a for a in options.get("fail_accounts", "").split(",") if a
        )
        self.rows_per_day = int(options.get("rows_per_day", "25"))
        self.page_size = int(options.get("page_size", "10"))
        self.fetch_log = options.get("fetch_log") or None

    def partitions(self):
        d0 = date.fromisoformat(self.start)
        d1 = date.fromisoformat(self.end)
        days = [(d0 + timedelta(days=i)).isoformat() for i in range((d1 - d0).days + 1)]
        # one partition per (account, day): S6's day loop, parallelized
        return [_FbPartition(a, d) for a in self.accounts for d in days]

    def _transport(self) -> Transport:
        if self.transport_name == "fake":
            return FakeGraphTransport(
                rows_per_day=self.rows_per_day,
                page_size=self.page_size,
                fail_accounts=self.fail_accounts,
                fetch_log=self.fetch_log,
            )
        return _TRANSPORTS[self.transport_name]()

    def rows_for(self, account_id: str, day: str):
        """One (account, day)'s rows: the shared fetch/convert/isolate
        loop consumed by both the batch partitions and the streaming
        reader — one implementation, so stream==batch can't diverge."""
        fields = [f.name for f in self.schema.fields if f.name != "account_id"]
        try:
            for rec in _retrying_pages(
                self._transport(), self.token, account_id, day, fields
            ):
                yield tuple(
                    _to_row_value(rec.get(f.name), f.name, account_id)
                    for f in self.schema.fields
                )
        except Exception:
            # S5 error isolation: a failed account yields an empty
            # partition instead of failing the whole job (main.py:482-498).
            if not self.error_isolation:
                raise

    def read(self, partition: _FbPartition):
        yield from self.rows_for(partition.account_id, partition.day)


def _to_row_value(val, field_name: str, account_id: str):
    if field_name == "account_id":
        return account_id
    if field_name == "actions" and val is not None:
        return [(a.get("action_type"), a.get("value")) for a in val]
    if field_name == "results" and val is not None:
        return [
            (r.get("indicator"), [(v.get("value"),) for v in (r.get("values") or [])])
            for r in val
        ]
    if isinstance(val, list):  # video_* single-element wrappers
        return [(str(v.get("value")),) for v in val]
    if val is None:
        return None
    return str(val) if not isinstance(val, str) else val


class FbInsightsStreamReader(SimpleDataSourceStreamReader):
    """Streaming flavor of the insights source: continuous API polling
    as a Structured Streaming SOURCE (`spark.readStream.format(
    "fb_insights")`), replacing the reference's cron-driven daily batch
    (deploy.sh scheduler) with an incremental, checkpointed ingest.

    Offset = the next day to ingest (ISO string). Each micro-batch
    pulls ONE day across all accounts through the same paginated,
    retrying, error-isolated fetch as the batch reader; the offset
    stops advancing at `end_date` (if set), so Trigger.AvailableNow
    drains the configured range and stops. The fake transport is
    deterministic per (account, day), which makes `readBetweenOffsets`
    an exact replay — the property Spark needs to re-deliver a batch
    after a crash WITHOUT duplicating rows (exactly-once ingest; the
    real HTTP transport gets this from the API's own immutable
    historical days).
    """

    def __init__(self, schema: StructType, options: dict):
        # Streaming is allowed to be OPEN-ENDED (no end_date): the batch
        # reader requires an end, so satisfy its validation with a
        # placeholder and then clear it — read() treats end=None as
        # "never caught up" and polls one batch of days per trigger.
        opts = dict(options)
        open_ended = not (
            opts.get("end_date") or opts.get("date")
        ) and bool(opts.get("start_date"))
        if open_ended:
            opts["end_date"] = opts["start_date"]
        self._batch = FbInsightsReader(schema, opts)
        if open_ended:
            self._batch.end = None
        # Streaming must NOT inherit batch's error-isolation default: a
        # swallowed fetch failure yields zero rows while the checkpointed
        # offset still advances, permanently marking that (account, day)
        # ingested-while-empty — silent, unrecoverable loss. Batch is
        # re-runnable so degrading is fine there; here a failure must
        # raise so the micro-batch fails and the trigger retries WITHOUT
        # committing the offset. Isolation stays available, but only via
        # the explicit streaming opt-in.
        self._batch.error_isolation = (
            str(options.get("streaming_error_isolation", "false")).lower()
            == "true"
        )
        # Open-ended polling must never consume a day whose data is not
        # complete yet: advancing the offset past it would mark it
        # ingested-while-empty FOREVER (checkpointed offsets are the
        # source of truth). The boundary is the last COMPLETE day —
        # yesterday in the reference's "daily preset" sense — refreshed
        # per read() so a long-running poller keeps up; `clamp_to`
        # pins it for deterministic tests.
        self._clamp_to = opts.get("clamp_to")
        # days ingested per micro-batch: default drains to the boundary
        # in one batch (Trigger.AvailableNow calls read() once per run);
        # set 1 for day-at-a-time polling under a processing-time
        # trigger (the steady-state production shape).
        self._days_per_batch = int(options.get("max_days_per_batch", "3650"))

    def _bound(self) -> str | None:
        """Last ingestable day: end_date when set, else the clamp (or
        wall-clock yesterday for the live poller)."""
        if self._batch.end:
            return self._batch.end
        if self._clamp_to:
            return self._clamp_to
        from datetime import datetime, timezone

        return (
            datetime.now(timezone.utc).date() - timedelta(days=1)
        ).isoformat()

    def initialOffset(self) -> dict:
        return {"day": self._batch.start}

    def _day_rows(self, day: str):
        for account in self._batch.accounts:
            yield from self._batch.rows_for(account, day)

    def read(self, start: dict):
        day = start["day"]
        bound = self._bound()
        if day > bound:
            return iter(()), start  # caught up: no rows, offset holds
        d = date.fromisoformat(day)
        stop = min(
            d + timedelta(days=self._days_per_batch - 1),
            date.fromisoformat(bound),
        )
        rows: list[tuple] = []
        while d <= stop:
            rows.extend(self._day_rows(d.isoformat()))
            d += timedelta(days=1)
        # iter(list), not a generator and not a bare list: pyspark's
        # prefetch wrapper needs an iterator it can BOTH copy.copy (for
        # cache replay) and pickle (to ship) — a list_iterator is the
        # one shape that satisfies all three call sites
        return iter(rows), {"day": d.isoformat()}

    def readBetweenOffsets(self, start: dict, end: dict):
        d = date.fromisoformat(start["day"])
        stop = date.fromisoformat(end["day"])
        rows: list[tuple] = []
        while d < stop:
            rows.extend(self._day_rows(d.isoformat()))
            d += timedelta(days=1)
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: the transport is stateless


class FbInsightsDataSource(DataSource):
    """`spark.read.format("fb_insights")` after `register(spark)`."""

    @classmethod
    def name(cls) -> str:
        return "fb_insights"

    def schema(self) -> StructType:
        return RAW_INSIGHTS_SCHEMA

    def reader(self, schema: StructType) -> FbInsightsReader:
        return FbInsightsReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType) -> FbInsightsStreamReader:
        return FbInsightsStreamReader(schema, self.options)


def register(spark) -> None:
    spark.dataSource.register(FbInsightsDataSource)
