"""Paginated kline ingestion source (reference BinanceUSClient semantics).

Mirrors the reference's REST scan contract (api_connector.py:208-321) as an
injectable, testable component: cursor pagination (next page starts at
last_ts + 1, api_connector.py:244-268), page-size cap, pacing, bounded
rate-limit backoff (api_connector.py:271-276), and the 12-column kline ->
OHLCV projection/casts (api_connector.py:289-310).

Network access is injected (`fetch_page` callable) — the engine never bakes
in an HTTP client; production wires a real session, tests wire a fake. The
fetch loop is driver-side by design (the API is a serial, rate-limited
cursor); scale-out happens per (symbol, timeframe) unit of ingestion, each
an independent job — the reference's sequential symbol loop
(colab_interface.py:228-243) becomes embarrassingly parallel.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_data_framework_spark.schemas import RAW_KLINES

# fetch_page(symbol, interval, start_ms, end_ms, limit) -> list of 12-elem rows
FetchPage = Callable[[str, str, int, int, int], Sequence[Sequence]]


class RateLimitError(Exception):
    """Raised by fetch_page on an API rate-limit response."""


BINANCE_US_BASE = "https://api.binance.us"


def http_fetch_page(
    base_url: str = BINANCE_US_BASE,
    timeout_s: float = 10.0,
    urlopen: Callable | None = None,
):
    """Real REST ``fetch_page`` for :class:`PagedKlineSource` (reference
    ``BinanceUSClient.get_historical_klines``, api_connector.py:251-257):
    GET /api/v3/klines with symbol/interval/startTime/endTime/limit, JSON
    body = list of 12-element kline rows.

    stdlib-only (urllib); ``urlopen`` is injectable so tests replay recorded
    fixtures with zero network. HTTP 418/429 (the API's rate-limit statuses)
    raise :class:`RateLimitError`, which the source's bounded backoff loop
    handles (reference 60 s stall, api_connector.py:271-276)."""
    import json
    import urllib.error
    import urllib.parse
    import urllib.request

    _open = urlopen or urllib.request.urlopen

    def fetch(symbol: str, interval: str, start_ms: int, end_ms: int, limit: int):
        qs = urllib.parse.urlencode(
            {
                "symbol": symbol,
                "interval": interval,
                "startTime": start_ms,
                "endTime": end_ms,
                "limit": limit,
            }
        )
        url = f"{base_url}/api/v3/klines?{qs}"
        try:
            with _open(url, timeout=timeout_s) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            if e.code in (418, 429):
                raise RateLimitError(f"rate limited: HTTP {e.code}") from e
            raise

    return fetch


def http_fetch_exchange_info(
    base_url: str = BINANCE_US_BASE,
    timeout_s: float = 10.0,
    urlopen: Callable | None = None,
) -> dict:
    """One-shot GET /api/v3/exchangeInfo (reference get_exchange_info,
    api_connector.py:145-164): the symbol dimension. Same injectable-urlopen
    seam as http_fetch_page; the result feeds the filter_suffix_status
    operator (endswith('USDT') & status == 'TRADING') as a small dimension
    DataFrame via spark.createDataFrame."""
    import json
    import urllib.request

    _open = urlopen or urllib.request.urlopen
    with _open(f"{base_url}/api/v3/exchangeInfo", timeout=timeout_s) as resp:
        return json.loads(resp.read().decode("utf-8"))


def binance_source(**http_kwargs) -> "PagedKlineSource":
    """Production wiring with the reference's pacing/backoff constants:
    1000-row pages, 0.1 s pacing, 60 s rate-limit backoff
    (api_connector.py:242, 271-276)."""
    return PagedKlineSource(
        http_fetch_page(**http_kwargs), page_size=1000, pacing_s=0.1, backoff_s=60.0
    )


class PagedKlineSource:
    def __init__(
        self,
        fetch_page: FetchPage,
        page_size: int = 1000,
        pacing_s: float = 0.0,
        backoff_s: float = 0.0,
        max_retries: int = 3,
    ):
        self.fetch_page = fetch_page
        self.page_size = page_size
        self.pacing_s = pacing_s
        self.backoff_s = backoff_s
        self.max_retries = max_retries

    def fetch_range(
        self, symbol: str, interval: str, start_ms: int, end_ms: int
    ) -> list[list]:
        """Cursor-paginated fetch: accumulate pages until an empty page or the
        end bound; resume cursor = last row ts + 1 (api_connector.py:266)."""
        rows: list[list] = []
        cursor = start_ms
        while cursor <= end_ms:
            page = self._fetch_with_retry(symbol, interval, cursor, end_ms)
            if not page:
                break
            rows.extend(list(r) for r in page)
            cursor = int(page[-1][0]) + 1
            if len(page) < self.page_size:
                break
            if self.pacing_s:
                time.sleep(self.pacing_s)
        return rows

    def _fetch_with_retry(self, symbol, interval, start_ms, end_ms):
        for attempt in range(self.max_retries + 1):
            try:
                return self.fetch_page(symbol, interval, start_ms, end_ms, self.page_size)
            except RateLimitError:
                if attempt == self.max_retries:
                    raise
                if self.backoff_s:
                    time.sleep(self.backoff_s)
        return []

    def to_ohlcv(
        self,
        spark: SparkSession,
        symbol: str,
        interval: str,
        start_ms: int,
        end_ms: int,
    ) -> DataFrame:
        """Fetched pages -> analysis-ready OHLCV DataFrame: string->double
        casts + ms->timestamp + 12->6 column projection (api_connector.py:
        288-310), all as built-in column expressions. The raw frame is
        built from an Arrow table, so it is a local relation the casts fold
        into: the rows stay in driver memory and collecting them (e.g. in
        OhlcvStore.save_data) runs no Spark job."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from binance_data_framework_spark.functions.casts import (
            ms_to_ts,
            str_to_double,
        )

        rows = self.fetch_range(symbol, interval, start_ms, end_ms)
        schema = to_arrow_schema(RAW_KLINES)
        cols = list(zip(*rows)) or [()] * len(schema)
        raw = spark.createDataFrame(
            pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema),
            RAW_KLINES,
        )
        return raw.select(
            ms_to_ts("timestamp").alias("ts"),
            *[str_to_double(c).alias(c) for c in ("open", "high", "low", "close", "volume")],
        )
