"""The table-plan memo drops the entries of stopped sessions, whatever
kind of session shares it."""

from __future__ import annotations

import weakref
from types import SimpleNamespace

from clockpipe_spark import catalog


class _Session:
    def __init__(self, jsc=None, raises=False, is_stopped=None):
        self._ctx = SimpleNamespace(_jsc=jsc)
        self._raises = raises
        if is_stopped is not None:
            self.is_stopped = is_stopped

    @property
    def sparkContext(self):
        if self._raises:  # as Spark Connect's PySparkAttributeError does
            raise AttributeError("sparkContext is not supported")
        return self._ctx


def test_purge_skips_unreadable_sessions_and_drops_stopped_ones(monkeypatch):
    plans = weakref.WeakKeyDictionary()
    monkeypatch.setattr(catalog, "_TABLE_PLANS", plans)
    unreadable = _Session(raises=True)
    live = _Session(jsc=object())
    stopped = _Session(jsc=None)
    connect_stopped = _Session(raises=True, is_stopped=True)
    connect_live = _Session(raises=True, is_stopped=False)
    for s in (unreadable, live, stopped, connect_stopped, connect_live):
        plans[s] = {}
    catalog._purge_stopped()
    assert set(plans) == {unreadable, live, connect_live}


def test_memo_miss_of_a_known_session_purges(spark, sf_dir, monkeypatch):
    plans = weakref.WeakKeyDictionary()
    monkeypatch.setattr(catalog, "_TABLE_PLANS", plans)
    catalog.load_table(spark, sf_dir, "region")
    stopped = _Session(jsc=None)
    plans[stopped] = {}
    catalog.load_table(spark, sf_dir, "region")  # a hit: no purge
    assert stopped in plans
    catalog.load_table(spark, sf_dir, "nation")
    assert set(plans) == {spark}
