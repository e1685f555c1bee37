"""The four Alpaca sources on the Spark 4 Python DataSource API.

Re-designed equivalents of the reference's source classes (SURVEY.md
§2A A1-A4) — same registered format names, same 9/8/9-column schemas,
same option semantics — built from the declarative framework in this
package instead of an inheritance chain:

- ``Alpaca_Stocks_Bars``       (reference stocks/bars.py:23-89)
- ``Alpaca_Stocks_Trades``     (reference stocks/trades.py:25-140)
- ``Alpaca_Options_Bars``      (reference options/bars.py:17-48)
- ``Alpaca_Corporate_Actions`` (reference corp_actions/corporate_actions.py:38-175)
- ``Alpaca_Crypto_Bars`` / ``Alpaca_Crypto_Trades`` — the reference
  leaves crypto as an explicit placeholder (crypto/__init__.py:1); we
  fill it from the public v1beta3 API shape: pair symbols (``BTC/USD``),
  a ``loc`` path segment, fractional volumes/sizes, auth optional.

Like the reference, the *options* are the primary pushdown surface
(symbols / start / end / limit / sort / types / ... become API query
params) and ``partitions()`` is the partition pruning (SURVEY.md §4).
Beyond the reference: Spark 4.1's Python-DataSource filter pushdown
(``PaginatedRestReader.pushFilters``) ALSO narrows the symbol grid
and fetch windows straight from ``df.filter(...)`` — with every
filter kept residual, so pushdown can only reduce IO, never change
results.
"""

from __future__ import annotations

from typing import Any

import pyarrow as pa
from pyspark.sql.datasource import DataSource, DataSourceReader
from pyspark.sql.types import StructType

from .http import make_fetcher, paginate
from .partitioning import (
    DEFAULT_LIMIT,
    SymbolSlicePartition,
    parse_timeframe,
    plan_partitions,
)
from .spec import (
    ASOF_PATTERN,
    CRYPTO_ENDPOINT,
    DEFAULT_ENDPOINT,
    TIMEFRAME_PATTERN,
    EndpointConfig,
    ParamSpec,
    base_history_specs,
    validate_options,
)
from .wire import (
    TS_UTC_US,
    FieldSpec,
    RecordTable,
    join_conditions,
    parse_utc_timestamp,
)

# ------------------------------------------------------------ tables
BARS_TABLE = RecordTable(
    "bars",
    [
        FieldSpec("time", "t", TS_UTC_US, parse_utc_timestamp),
        FieldSpec("open", "o", pa.float64(), float),
        FieldSpec("high", "h", pa.float64(), float),
        FieldSpec("low", "l", pa.float64(), float),
        FieldSpec("close", "c", pa.float64(), float),
        FieldSpec("volume", "v", pa.int64(), int),
        FieldSpec("trade_count", "n", pa.int64(), int),
        FieldSpec("vwap", "vw", pa.float64(), float),
    ],
)

TRADES_TABLE = RecordTable(
    "trades",
    [
        FieldSpec("time", "t", TS_UTC_US, parse_utc_timestamp),
        FieldSpec("exchange", "x", pa.string(), str),
        FieldSpec("price", "p", pa.float64(), float),
        FieldSpec("size", "s", pa.int64(), int),
        FieldSpec("conditions", "c", pa.string(), join_conditions, default=""),
        FieldSpec("id", "i", pa.int64(), int),
        FieldSpec("tape", "z", pa.string(), str),
    ],
)

# Crypto wire records reuse the bar field letters but volume (and
# trade size) are FRACTIONAL — BTC trades in satoshis, not shares.
CRYPTO_BARS_TABLE = RecordTable(
    "bars",
    [
        FieldSpec("time", "t", TS_UTC_US, parse_utc_timestamp),
        FieldSpec("open", "o", pa.float64(), float),
        FieldSpec("high", "h", pa.float64(), float),
        FieldSpec("low", "l", pa.float64(), float),
        FieldSpec("close", "c", pa.float64(), float),
        FieldSpec("volume", "v", pa.float64(), float),
        FieldSpec("trade_count", "n", pa.int64(), int),
        FieldSpec("vwap", "vw", pa.float64(), float),
    ],
)

CRYPTO_TRADES_TABLE = RecordTable(
    "trades",
    [
        FieldSpec("time", "t", TS_UTC_US, parse_utc_timestamp),
        FieldSpec("price", "p", pa.float64(), float),
        FieldSpec("size", "s", pa.float64(), float),
        FieldSpec("taker_side", "tks", pa.string(), str, default=""),
        FieldSpec("id", "i", pa.int64(), int),
    ],
)

CORP_ACTIONS_TABLE = RecordTable(
    "corporate_actions",
    [
        FieldSpec("ex_date", "ex_date", TS_UTC_US, parse_utc_timestamp, nullable=True),
        FieldSpec("record_date", "record_date", TS_UTC_US, parse_utc_timestamp, nullable=True),
        FieldSpec("payable_date", "payable_date", TS_UTC_US, parse_utc_timestamp, nullable=True),
        FieldSpec("type", "type", pa.string(), str, default=""),
        FieldSpec("amount", "amount", pa.float64(), float, default=0.0),
        FieldSpec("ratio", "ratio", pa.float64(), float, default=0.0),
        FieldSpec("new_symbol", "new_symbol", pa.string(), str, default=""),
        FieldSpec("old_symbol", "old_symbol", pa.string(), str, default=""),
    ],
)

# ------------------------------------------------------- option specs
ADJUSTMENT_ENUM = ("raw", "split", "dividend", "all")
FEED_ENUM = ("iex", "sip", "delayed_sip", "otc")
CA_TYPES_ENUM = ("dividend", "split", "merger", "spinoff", "stock_dividend", "all")
DATE_TYPE_ENUM = ("ex_date", "record_date", "payable_date")


def stock_bars_specs() -> list[ParamSpec]:
    return base_history_specs() + [
        ParamSpec("timeframe", required=True, pattern=TIMEFRAME_PATTERN),
        ParamSpec("adjustment", enum=ADJUSTMENT_ENUM),
        ParamSpec("feed", enum=FEED_ENUM),
        ParamSpec("currency"),
        ParamSpec("asof", pattern=ASOF_PATTERN),
    ]


def option_bars_specs() -> list[ParamSpec]:
    return base_history_specs() + [
        ParamSpec("timeframe", required=True, pattern=TIMEFRAME_PATTERN),
    ]


def stock_trades_specs() -> list[ParamSpec]:
    return base_history_specs() + [
        ParamSpec("feed", enum=FEED_ENUM),
        ParamSpec("currency"),
    ]


def corp_actions_specs() -> list[ParamSpec]:
    return base_history_specs() + [
        ParamSpec("types", enum=CA_TYPES_ENUM, enum_multi=True),
        ParamSpec("date_type", enum=DATE_TYPE_ENUM),
    ]


LOC_ENUM = ("us", "global")


def crypto_bars_specs() -> list[ParamSpec]:
    return base_history_specs() + [
        ParamSpec("timeframe", required=True, pattern=TIMEFRAME_PATTERN),
        ParamSpec("loc", enum=LOC_ENUM),
    ]


def crypto_trades_specs() -> list[ParamSpec]:
    return base_history_specs() + [
        ParamSpec("loc", enum=LOC_ENUM),
    ]


# ------------------------------------------------------------ reader
class PaginatedRestReader(DataSourceReader):
    """Generic reader: one task per (symbol, time-slice); each task
    pages through the REST endpoint and yields one Arrow RecordBatch
    per page (the scan itself never shuffles).

    Implements ``pushFilters`` (requires the session conf
    ``spark.sql.python.filterPushdown.enabled=true`` — set by
    ``session.get_spark``/``tune``; Spark refuses to plan a
    pushFilters-capable reader with it off)."""

    def __init__(
        self,
        config: EndpointConfig,
        params: dict[str, str],
        table: RecordTable,
        path: str,
        *,
        adaptive_timeframe: bool = False,
    ):
        self.config = config
        self.params = params
        self.table = table
        self.path = path
        self.adaptive_timeframe = adaptive_timeframe

    def pushFilters(self, filters):
        """Catalyst filter pushdown (Spark 4.1 Python DataSource API):
        ``symbol = / IN`` narrows the partition grid's symbol list and
        ``time`` bounds narrow the fetch window — so a plain
        ``df.filter(...)`` saves API calls without the user threading
        the constraint through options (the reference can only push
        down via options; this is the Spark-native twin of §2D D1/D2).

        ALL filters are returned as residual: Spark re-applies them
        post-scan, so API boundary semantics (inclusive ends, server
        clock skew) can never change results — pushdown narrows IO,
        the residual filter guarantees exactness."""
        from datetime import datetime, timezone

        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        from .spec import parse_iso_datetime

        def as_dt(v):
            if isinstance(v, datetime):
                return v if v.tzinfo else v.replace(tzinfo=timezone.utc)
            if isinstance(v, str):
                try:
                    return parse_iso_datetime(v, "filter")
                except Exception:
                    return None
            return None

        for f in filters:
            col = f.attribute[0] if len(getattr(f, "attribute", ())) == 1 else None
            if col == self.table.symbol_field:
                keep = None
                if isinstance(f, EqualTo) and isinstance(f.value, str):
                    keep = {f.value}
                elif isinstance(f, In):
                    keep = {v for v in f.value if isinstance(v, str)}
                if keep is not None:
                    current = self.params["symbols"].split(",")
                    self.params["symbols"] = ",".join(
                        s for s in current if s in keep
                    )
            elif col == "time":
                v = as_dt(getattr(f, "value", None))
                if v is None:
                    continue
                if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    cur = parse_iso_datetime(self.params["start"], "start")
                    if v > cur:
                        self.params["start"] = v.isoformat()
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    cur = parse_iso_datetime(self.params["end"], "end")
                    if v < cur:
                        self.params["end"] = v.isoformat()
        return filters

    def partitions(self):
        from .spec import parse_iso_datetime

        symbols = [s for s in self.params["symbols"].split(",") if s]
        if not symbols:
            return []  # pushdown eliminated every symbol
        start = parse_iso_datetime(self.params["start"], "start")
        end = parse_iso_datetime(self.params["end"], "end")
        if start >= end:
            return []  # pushdown narrowed the window to nothing
        timeframe = (
            parse_timeframe(self.params["timeframe"]) if self.adaptive_timeframe else None
        )
        return plan_partitions(
            symbols,
            start,
            end,
            timeframe=timeframe,
            limit=int(self.params.get("limit", DEFAULT_LIMIT)),
        )

    def read(self, partition: SymbolSlicePartition):
        fetcher = make_fetcher(
            self.config.endpoint,
            self.path,
            self.config.headers,
            timeout=self.config.timeout,
            retries=self.config.retries,
        )
        part_params = {
            k: v for k, v in self.params.items() if k not in ("symbols", "start", "end")
        }
        part_params.update(
            symbols=partition.symbol,
            start=partition.start.isoformat(),
            end=partition.api_end.isoformat(),
            limit=self.params.get("limit", str(DEFAULT_LIMIT)),
        )
        for page in paginate(
            fetcher, part_params, rate_limit_delay=self.config.rate_limit_delay
        ):
            batch = self.table.page_to_batch(page)
            if batch is not None:
                yield batch


# ----------------------------------------------------------- sources
class _BaseAlpacaDataSource(DataSource):
    """Shared construction: eager option validation on the driver —
    every option error surfaces before any job runs (reference
    common.py:214-216 stance)."""

    SPECS: staticmethod
    TABLE: RecordTable
    PATH: str
    ADAPTIVE = False
    REQUIRE_AUTH = True
    DEFAULT_ENDPOINT = DEFAULT_ENDPOINT
    #: path template params pulled OUT of the query string, with
    #: defaults — e.g. crypto's ``crypto/{loc}/bars``
    PATH_PARAMS: dict[str, str] = {}

    def __init__(self, options: dict[str, Any]):
        super().__init__(options)
        cls = type(self)
        self._config, self._params = validate_options(
            dict(options),
            cls.SPECS(),
            require_auth=cls.REQUIRE_AUTH,
            default_endpoint=cls.DEFAULT_ENDPOINT,
        )
        path = cls.PATH
        for name, default in cls.PATH_PARAMS.items():
            path = path.replace("{" + name + "}", self._params.pop(name, default))
        self._path = path

    def schema(self) -> str:
        # DDL string, not StructType: schema() runs in a sessionless
        # Python worker where fromDDL cannot parse
        return type(self).TABLE.ddl

    def reader(self, schema: StructType) -> DataSourceReader:
        return PaginatedRestReader(
            self._config,
            self._params,
            type(self).TABLE,
            self._path,
            adaptive_timeframe=type(self).ADAPTIVE,
        )


class StockBarsDataSource(_BaseAlpacaDataSource):
    SPECS = staticmethod(stock_bars_specs)
    TABLE = BARS_TABLE
    PATH = "stocks/bars"
    ADAPTIVE = True

    @classmethod
    def name(cls) -> str:
        return "Alpaca_Stocks_Bars"


class StockTradesDataSource(_BaseAlpacaDataSource):
    SPECS = staticmethod(stock_trades_specs)
    TABLE = TRADES_TABLE
    PATH = "stocks/trades"

    @classmethod
    def name(cls) -> str:
        return "Alpaca_Stocks_Trades"


class OptionBarsDataSource(_BaseAlpacaDataSource):
    SPECS = staticmethod(option_bars_specs)
    TABLE = BARS_TABLE
    PATH = "options/bars"
    ADAPTIVE = True

    @classmethod
    def name(cls) -> str:
        return "Alpaca_Options_Bars"


class CorporateActionsDataSource(_BaseAlpacaDataSource):
    SPECS = staticmethod(corp_actions_specs)
    TABLE = CORP_ACTIONS_TABLE
    PATH = "stocks/corporate_actions"

    @classmethod
    def name(cls) -> str:
        return "Alpaca_Corporate_Actions"


class CryptoBarsDataSource(_BaseAlpacaDataSource):
    """Fills the reference's crypto placeholder (crypto/__init__.py:1)
    from the public v1beta3 surface: no adjustment/feed/asof (crypto
    has no corporate actions, one consolidated feed), ``loc`` selects
    the path-level venue, and market data needs no credentials."""

    SPECS = staticmethod(crypto_bars_specs)
    TABLE = CRYPTO_BARS_TABLE
    PATH = "crypto/{loc}/bars"
    PATH_PARAMS = {"loc": "us"}
    ADAPTIVE = True
    REQUIRE_AUTH = False
    DEFAULT_ENDPOINT = CRYPTO_ENDPOINT

    @classmethod
    def name(cls) -> str:
        return "Alpaca_Crypto_Bars"


class CryptoTradesDataSource(_BaseAlpacaDataSource):
    SPECS = staticmethod(crypto_trades_specs)
    TABLE = CRYPTO_TRADES_TABLE
    PATH = "crypto/{loc}/trades"
    PATH_PARAMS = {"loc": "us"}
    REQUIRE_AUTH = False
    DEFAULT_ENDPOINT = CRYPTO_ENDPOINT

    @classmethod
    def name(cls) -> str:
        return "Alpaca_Crypto_Trades"
