"""pin_session_conf restores the confs results depend on, whatever the
caller's session had set."""

from __future__ import annotations

from recommendation_system_spark_ml_spark.session import pin_session_conf


def test_pin_turns_ansi_mode_back_on(spark):
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        pin_session_conf(spark)
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, old)
