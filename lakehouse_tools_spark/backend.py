"""Runtime storage-backend selection: Delta when available, parquet otherwise.

The reference's durable layer is entirely Delta — ``CREATE OR REPLACE
TABLE … USING DELTA`` (``dbc cell@7.0``), ``MERGE INTO``
(``cell@8.5``), ``OPTIMIZE … ZORDER BY`` (``cell@9.0``). SURVEY.md
§7.5 commits to a runtime-detected dual path: use delta-spark if it
can be imported, else the managed-parquet implementations in
:mod:`operators.writer` (same call signatures, same semantics — the
blue/green swap stands in for Delta's ACID commit).

Detection is import-based: delta-spark is not a dependency, so the
Delta branch is not exercised by the test suite. It is wired so that
dropping delta-spark into the environment activates it with no code
change:

- :func:`delta_available` — can ``import delta``?
- :func:`table_format` — "delta" iff available (overridable via
  ``SPARK_GRAFT_TABLE_FORMAT=parquet|delta`` for explicit pinning).
- :func:`delta_builder_confs` / :func:`finalize_builder` — the two
  session-build hooks ``configure_spark_with_delta_pip`` needs
  (extension + catalog confs, plus the pip-artifact classpath).
"""

from __future__ import annotations

import os

_FORMAT: str | None = None


def delta_available() -> bool:
    """True iff delta-spark is importable in this interpreter."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    return True


def table_format() -> str:
    """The durable-table format for this process: ``delta`` or
    ``parquet``. Cached after first call (session confs are
    builder-time decisions; flip-flopping formats mid-process would
    leave mixed tables)."""
    global _FORMAT
    if _FORMAT is None:
        forced = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "").lower()
        if forced in ("parquet", "delta"):
            _FORMAT = forced
        else:
            _FORMAT = "delta" if delta_available() else "parquet"
    return _FORMAT


def delta_builder_confs() -> dict[str, str]:
    """Builder-time confs the Delta catalog needs (no-op dict when
    delta-spark is absent)."""
    if table_format() != "delta":
        return {}
    return {
        "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
        "spark.sql.catalog.spark_catalog": (
            "org.apache.spark.sql.delta.catalog.DeltaCatalog"
        ),
    }


def finalize_builder(builder):
    """Wrap the session builder with delta-spark's pip-install helper
    (adds the Delta jars to the driver classpath). Identity when
    delta-spark is absent."""
    if table_format() != "delta":
        return builder
    from delta import configure_spark_with_delta_pip

    return configure_spark_with_delta_pip(builder)
