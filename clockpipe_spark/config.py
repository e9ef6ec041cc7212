"""Pipe configuration, mirroring the reference's JSON config schema
(config.rs:3-24, 99-185) with the same field names and defaults so a
clockpipe config file ports directly. Source/sink endpoints become data
paths here (the harness has no live Postgres/ClickHouse); the table
lists, mask columns, peek cap and cadences keep their reference meaning.
Reference fields nothing here acts on (ClickHouse storage knobs, COPY
batch size, peek timeout) are ignored on load, like any unknown key.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class TableOptions:
    """Sink table options (docs/clickhouse/README.md; config.rs:112-122).
    sink_buckets is the Spark analog of the PK layout lever (ORDER BY +
    index_granularity)."""

    sink_buckets: int | None = None  # None = inherit global


@dataclass
class SourceTable:
    """PostgresSource analog (config.rs:224-234)."""

    table_name: str
    skip_copy: bool = False
    mask_columns: list[str] = field(default_factory=list)
    table_options: TableOptions | None = None  # None = inherit global


# reference keys read from the "source" object, with their defaults below
_SOURCE_KEYS = (
    "peek_changes_limit",
    "sleep_millis_after_sync_iteration",
    "sleep_millis_when_peek_failed",
    "sleep_millis_when_peek_is_empty",
    "sleep_millis_when_write_failed",
)


@dataclass
class PipeConfig:
    """Top-level config (config.rs:3-24) + defaults (config.rs:99-185)."""

    source_type: str = "parquet_cdc"
    tables: list[SourceTable] = field(default_factory=list)
    # batching / cadence (reference defaults)
    peek_changes_limit: int = 65_536        # config.rs:146-149
    sleep_millis_after_sync_iteration: int = 100  # config.rs:171-174
    sleep_millis_when_peek_failed: int = 5_000    # config.rs:156-159
    sleep_millis_when_peek_is_empty: int = 5_000  # config.rs:161-164
    sleep_millis_when_write_failed: int = 5_000   # config.rs:166-169
    # Spark-native sink layout: 0 = one bucket; >0 = that many hash
    # buckets, so compaction rewrites only touched buckets (the
    # ORDER BY (pk) / index_granularity analog for parquet state)
    sink_buckets: int = 0

    def options_for(self, table: "SourceTable") -> TableOptions:
        """Table-specific options inherit from global when blank
        (docs/clickhouse/README.md; config.rs:259-268).

        Returns a new object: assigning the inherited value into the
        table's stored TableOptions would make a getter mutate shared
        state — later changes to the global sink_buckets would silently
        stop propagating to any table already queried once."""
        own = table.table_options
        if own is None or own.sink_buckets is None:
            return TableOptions(sink_buckets=self.sink_buckets)
        return TableOptions(sink_buckets=own.sink_buckets)

    @classmethod
    def from_json(cls, text: str) -> "PipeConfig":
        raw = json.loads(text)
        src = raw.get("source", {})
        tables = [
            SourceTable(
                table_name=t["table_name"],
                skip_copy=t.get("skip_copy", False),
                mask_columns=t.get("mask_columns", []),
                table_options=(
                    TableOptions(sink_buckets=t["table_options"].get("sink_buckets"))
                    if t.get("table_options")
                    else None
                ),
            )
            for t in src.get("tables", [])
        ]
        kw = {key: src[key] for key in _SOURCE_KEYS if key in src}
        sink = raw.get("sink", raw.get("target", {}))
        if "sink_buckets" in sink:
            kw["sink_buckets"] = sink["sink_buckets"]
        return cls(
            source_type=src.get("source_type", "parquet_cdc"),
            tables=tables,
            **kw,
        )
