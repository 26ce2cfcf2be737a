"""Logging setup (reference ``pipeline/utils/logs.py:14-53`` pattern).

Same shape as the reference: root logger at DEBUG, console handler at
INFO, optional rotating file handler at DEBUG (5 MB × 2 backups), noisy
third-party loggers suppressed. Re-expressed for the Spark stack (py4j
instead of httpx/redis in the suppression list).
"""

from __future__ import annotations

import logging
from logging.handlers import RotatingFileHandler

_NOISY_LOGGERS = ("py4j", "pyspark", "urllib3", "asyncio")

_CONSOLE_FMT = "%(levelname)s %(name)s: %(message)s"
_FILE_FMT = "%(asctime)s %(levelname)s %(name)s [%(filename)s:%(lineno)d] %(message)s"
_CONSOLE_LEVEL = logging.INFO
_MAX_BYTES = 5 * 1024 * 1024
_BACKUP_COUNT = 2


def setup_logging(logfile: str | None = None) -> logging.Logger:
    """Configure the root logger; returns it. Idempotent per handler type."""
    root = logging.getLogger()
    root.setLevel(logging.DEBUG)

    if not any(
        isinstance(h, logging.StreamHandler)
        and not isinstance(h, RotatingFileHandler)
        for h in root.handlers
    ):
        console = logging.StreamHandler()
        console.setLevel(_CONSOLE_LEVEL)
        console.setFormatter(logging.Formatter(_CONSOLE_FMT))
        root.addHandler(console)

    if logfile and not any(
        isinstance(h, RotatingFileHandler) for h in root.handlers
    ):
        fileh = RotatingFileHandler(
            logfile, maxBytes=_MAX_BYTES, backupCount=_BACKUP_COUNT
        )
        fileh.setLevel(logging.DEBUG)
        fileh.setFormatter(logging.Formatter(_FILE_FMT))
        root.addHandler(fileh)

    for name in _NOISY_LOGGERS:
        logging.getLogger(name).setLevel(logging.WARNING)
    return root
