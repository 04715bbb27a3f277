"""The engine session's defaults (``vite_spark.session.get_spark``)."""

from __future__ import annotations


def test_dataframe_call_site_capture_is_off(spark):
    """PySpark's per-call call-site capture is off: no stack walk and no
    extra Py4J round trips per ``F.*``/DataFrame call."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    spark.range(1).count()
    assert not is_debugging_enabled()
