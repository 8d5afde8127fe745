"""Shared Spark fixture.

Deliberately the *vanilla* session profile (not the engine's ``default``
one) so every operator is exercised the way the external driver runs it —
any dependency on default-profile-only confs is a bug the suite must catch
(the round-1 nanos-timestamp regression was exactly that class).
"""

from __future__ import annotations

import pytest

from noaa_ais_glue_lakehouse_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("noaa-ais-lakehouse-spark-tests", profile="vanilla")
    yield s
    s.stop()
