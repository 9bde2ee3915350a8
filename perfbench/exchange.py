"""An offline Binance kline exchange and the closed-form bar grid behind it.

Bar `m` (minutes since the epoch) of symbol `i` has integer-cent prices
given by `close_cents`, so a test can state the exact rows and close-price
checksum any request must return. `FakeExchange.urlopen` stands in for
`urllib.request.urlopen` under the engine's `http_fetch_page`, so requests
go through the production URL building and JSON decoding. A seeded share of
pages answers HTTP 429, which the source retries.
"""

from __future__ import annotations

import io
import json
import urllib.error
import urllib.parse

import numpy as np

MINUTE_MS = 60_000
RATE_LIMIT_P = 0.01  # share of pages answered with HTTP 429


def close_cents(i, m):
    return 10_000 + 100 * i + (m * 7919 + i * 104_729) % 10_007


def symbol(i: int) -> str:
    return f"S{i:02d}USDT"


def symbol_index(sym: str) -> int:
    return int(sym[1:3])


class FakeExchange:
    def __init__(self, rng: np.random.Generator, now_ms: int):
        self.rng = rng
        self.now_ms = now_ms
        self.pages = 0
        self.rate_limited = 0

    def klines(self, sym: str, start_ms: int, end_ms: int, limit: int) -> list[list]:
        """Closed 1m bars with open time in [start_ms, end_ms], at most `limit`."""
        i = symbol_index(sym)
        lo = -(-start_ms // MINUTE_MS)
        hi = min(end_ms, self.now_ms - MINUTE_MS) // MINUTE_MS
        rows = []
        for m in range(lo, min(hi + 1, lo + limit)):
            c = close_cents(i, m)
            t = m * MINUTE_MS
            rows.append(
                [
                    t,
                    f"{(c - 50) / 100:.8f}",
                    f"{(c + 100) / 100:.8f}",
                    f"{(c - 100) / 100:.8f}",
                    f"{c / 100:.8f}",
                    f"{m % 97 + 1:.8f}",
                    t + MINUTE_MS - 1,
                    "0.0",
                    1,
                    "0.0",
                    "0.0",
                    "0",
                ]
            )
        return rows

    def urlopen(self, url: str, timeout: float | None = None):
        if self.rng.random() < RATE_LIMIT_P:
            self.rate_limited += 1
            raise urllib.error.HTTPError(url, 429, "Too Many Requests", {}, None)
        q = dict(urllib.parse.parse_qsl(urllib.parse.urlsplit(url).query))
        rows = self.klines(q["symbol"], int(q["startTime"]), int(q["endTime"]), int(q["limit"]))
        self.pages += 1
        return io.BytesIO(json.dumps(rows).encode("utf-8"))
