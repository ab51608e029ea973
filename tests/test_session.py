"""tune_session on a session that is already running."""

from __future__ import annotations

import logging

from logistics_data_pipeline_project_spark import session


def test_tune_session_warns_for_each_conf_it_cannot_set(spark, caplog, monkeypatch):
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(
        session,
        "ENGINE_CONF",
        {
            # static: fixed once the session exists
            "spark.sql.warehouse.dir": "/nonexistent-warehouse",
            "spark.sql.shuffle.partitions": partitions,
        },
    )
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.tune_session(spark) is spark
    warnings = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "spark.sql.warehouse.dir" in warnings[0]
    assert "CANNOT_MODIFY" in warnings[0] or "static" in warnings[0].lower()
    assert spark.conf.get("spark.sql.warehouse.dir") != "/nonexistent-warehouse"
