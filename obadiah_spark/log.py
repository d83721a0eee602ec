"""F10: logging plumbing (reference ``SetLogLevel`` /
``src/severity_level.cpp``, db/c/obadiah_db/obadiah_db.cpp:596-609).

The reference routes engine diagnostics through a severity-levelled logger;
here the python side uses stdlib logging under the ``obadiah_spark.*``
namespace (executor-side JVM logging is log4j via Spark's own config). The
iterative repair drivers log per-pass progress the way the reference's
RAISE DEBUG lines do.
"""

from __future__ import annotations

import logging


def get_logger(name: str) -> logging.Logger:
    return logging.getLogger(f"obadiah_spark.{name}")

