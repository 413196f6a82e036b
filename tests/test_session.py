"""Session factory: ``get_spark`` builds a session once and hands the
live one back untouched."""

from __future__ import annotations

from esther_apache_spark_spark.session import get_spark


def test_get_spark_leaves_live_session_untouched(spark):
    """A second caller (the CLI's ``get_spark("esther-cli")`` inside the
    test process) must not re-apply its builder confs to the shared
    session: that narrowed the suite's shuffle width from 8 to 4 and
    renamed the app under every later test."""
    confs = spark.conf.getAll
    name = spark.conf.get("spark.app.name")
    again = get_spark("x", shuffle_partitions=4)
    assert again is spark
    assert spark.conf.getAll == confs
    assert spark.conf.get("spark.app.name") == name
