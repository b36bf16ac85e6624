"""session.configure applies every runtime default to a live session and
never swallows a failed set."""

from __future__ import annotations

import pytest

from nexus_processor_spark import session


class _Session:
    """Stands in for a SparkSession whose conf refuses one key."""

    def __init__(self, refused: str):
        self.refused = refused
        self.set_keys: list[str] = []
        self.conf = self

    def set(self, key: str, value: str) -> None:
        if key == self.refused:
            raise RuntimeError(f"[CANNOT_MODIFY_CONFIG] {key}")
        self.set_keys.append(key)


def test_failed_conf_set_raises():
    fake = _Session("spark.sql.legacy.parquet.nanosAsLong")
    with pytest.raises(RuntimeError, match="CANNOT_MODIFY_CONFIG"):
        session.configure(fake)


def test_launch_only_confs_are_not_set_on_a_live_session():
    fake = _Session("spark.driver.memory")
    session.configure(fake)
    assert set(fake.set_keys) == set(session.DEFAULT_CONFS)
    assert not set(session.LAUNCH_CONFS) & set(session.DEFAULT_CONFS)


def test_configure_sets_every_runtime_default(spark):
    old = {k: spark.conf.get(k, None) for k in session.DEFAULT_CONFS}
    try:
        session.configure(spark)
        for k, v in session.DEFAULT_CONFS.items():
            assert spark.conf.get(k) == v, k
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
