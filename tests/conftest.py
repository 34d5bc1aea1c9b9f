from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ifeatureomega_cli_spark.session import get_spark  # noqa: E402

FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
GOLDDIR = os.path.join(FIXDIR, "golden")
# ~20 drug-like molecules: fused heteroaromatics, nitro groups, thioureas,
# polycycles — the panel every ligand-family test runs end to end
SMILES_PANEL = os.path.join(FIXDIR, "chemical_smiles.txt")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="ifos-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


def concrete_dataframe_cls():
    """The class whose methods actually execute for local DataFrames.

    PySpark 4 routes classic (non-Connect) sessions through
    pyspark.sql.classic.dataframe.DataFrame, which OVERRIDES collect/
    toPandas — monkeypatching the abstract pyspark.sql.DataFrame is
    silently shadowed (it made the round-2 no-materialization guards
    vacuous).  Patch this class instead."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # older PySpark: one concrete class
        from pyspark.sql import DataFrame
    return DataFrame
