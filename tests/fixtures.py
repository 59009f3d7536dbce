"""Re-export of the package's deterministic survey fixtures.

The generator moved into the package (qudo_etl_pipeline_spark/
fixtures.py) in round 10: the catalog's ``pipeline_e2e_fixture``
query consumes it, and a production catalog must not import from the
tests tree (tests/ is not shipped with the package). Tests keep
importing ``tests.fixtures`` unchanged through this shim.
"""

from qudo_etl_pipeline_spark.fixtures import (  # noqa: F401
    LIKERT,
    make_questions,
    make_responses,
)

# the sf0.01 tables
SF_DIR = "/root/testdata/sf0.01"
