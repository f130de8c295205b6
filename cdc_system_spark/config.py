"""Configuration dataclasses.

Mirrors the reference's ``config.py`` (reference: config.py:7-62) — same
field names and the same ``CDC_*`` environment-variable overrides — so a
user of the reference can carry their .env across. Spark-side knobs are
parameters where they are used: shuffle partitions and AQE of
``get_spark``, the key column of ``CDCSystem.setup_cdc``, the dead-letter
sink of ``StreamingReplicator``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from enum import Enum


class DatabaseType(str, Enum):
    """Backend selector (reference: cdc_system.py:32-36).

    The reference claims sqlite/postgresql/mysql but only implements
    sqlite. Here each maps to a Spark read/write format: parquet is the
    native analytics store; postgresql/mysql are served by the JDBC
    source (cdc_system_spark.sources.connectors).
    """

    PARQUET = "parquet"
    POSTGRESQL = "postgresql"
    MYSQL = "mysql"
    #: Deprecated alias: the reference's default backend was a SQLite
    #: file (cdc_system.py:32-36). This engine has no SQLite executor;
    #: a ``.env`` carrying ``*_DB_TYPE=sqlite`` gets the parquet store
    #: (the native analytics backend) instead of an enum error.
    SQLITE = "sqlite"

    @property
    def effective(self) -> "DatabaseType":
        """Resolve deprecated aliases to the backend actually used."""
        return DatabaseType.PARQUET if self is DatabaseType.SQLITE else self


@dataclass
class DatabaseConfig:
    """Connection settings (reference: config.py:7-26)."""

    db_type: DatabaseType = DatabaseType.PARQUET
    path: str = ""  # parquet root dir (was: sqlite file path)
    host: str = "localhost"
    port: int = 5432
    database: str = ""
    username: str = ""
    password: str = ""

    @classmethod
    def from_env(cls, prefix: str = "SOURCE") -> "DatabaseConfig":
        # Resolve deprecated aliases (sqlite -> parquet) at the boundary
        # so downstream code never has to consult .effective.
        return cls(
            db_type=DatabaseType(
                os.environ.get(f"{prefix}_DB_TYPE", "parquet")
            ).effective,
            path=os.environ.get(f"{prefix}_DB_PATH", ""),
            host=os.environ.get(f"{prefix}_DB_HOST", "localhost"),
            port=int(os.environ.get(f"{prefix}_DB_PORT", "5432")),
            database=os.environ.get(f"{prefix}_DB_NAME", ""),
            username=os.environ.get(f"{prefix}_DB_USER", ""),
            password=os.environ.get(f"{prefix}_DB_PASSWORD", ""),
        )


@dataclass
class CDCConfig:
    """Engine settings (reference: config.py:30-62).

    Same env names as the reference's ``CDCConfig.from_env``
    (config.py:50-62): CDC_BATCH_SIZE, CDC_SYNC_INTERVAL, CDC_MAX_RETRIES,
    CDC_RETRY_DELAY, CDC_METRICS_INTERVAL, CDC_CAPTURE_STRATEGY.
    """

    batch_size: int = 100
    sync_interval_seconds: int = 5
    max_retries: int = 3
    retry_delay_seconds: int = 10
    metrics_interval_seconds: int = 60
    # reference claims trigger|timestamp|version (config.py:47); all three
    # are real here: cdf-style log append, timestamp filter, snapshot diff.
    capture_strategy: str = "log"
    # health threshold (reference: cdc_system.py:373), read by CDCMonitor
    health_pending_threshold: int = 1000

    @classmethod
    def from_env(cls) -> "CDCConfig":
        return cls(
            batch_size=int(os.environ.get("CDC_BATCH_SIZE", "100")),
            sync_interval_seconds=int(os.environ.get("CDC_SYNC_INTERVAL", "5")),
            max_retries=int(os.environ.get("CDC_MAX_RETRIES", "3")),
            retry_delay_seconds=int(os.environ.get("CDC_RETRY_DELAY", "10")),
            metrics_interval_seconds=int(os.environ.get("CDC_METRICS_INTERVAL", "60")),
            capture_strategy=os.environ.get("CDC_CAPTURE_STRATEGY", "log"),
        )
