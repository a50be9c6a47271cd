"""The engine's SparkSession settings (session.get_spark)."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled


def test_dataframe_call_site_capture_is_off(spark):
    """get_spark turns off PySpark's DataFrame call-site capture, which
    costs py4j round trips on every wrapped API call; an unresolved
    column still raises AnalysisException naming the column."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(3).select("no_such_column")
