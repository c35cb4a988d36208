"""One call's Spark resources: persists, temp views and the loop-conf pin.

A call that persists a relation, registers a temp view or pins the loop
confs must leave none of them in the caller's session — on return, early
exit or exception::

    with scope(spark) as sc:
        census = sc.persist(census)   # cleanup armed BEFORE it runs
        census.count()
        view = sc.view(census, "merge_census")
        sc.pin(census.rdd.getNumPartitions())
        ...                           # eager actions only

Only relations consumed EAGERLY inside the call belong here: a returned
lazy plan would re-run its lineage once the scope has released them.

``pin`` turns AQE off (a census-sized loop has nothing for it to
re-plan; its per-statement re-optimization measured ~15-30 ms/iteration,
round-12 A/B) and optionally pins ``spark.sql.shuffle.partitions`` to a
data-derived width. Both confs are session-global, so the one
concurrent-job site (``similarity._overlap_write_jobs``) refuses to run
while :func:`pinned`.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession

_AQE = "spark.sql.adaptive.enabled"
_WIDTH = "spark.sql.shuffle.partitions"

#: pins in force in this process (the engine drives one session per
#: process); the lock makes the counts safe against a reader thread
_active_pins = 0
_pins_lock = threading.Lock()


def pinned() -> bool:
    """True while any scope's loop-conf pin is in force."""
    return _active_pins > 0


class Scope:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._held: list[DataFrame] = []
        self._views: list[str] = []
        self._saved: tuple[str, str] | None = None

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` lazily and hold it until release or exit."""
        self._held.append(df)
        return df.persist()

    def release(self, df: DataFrame) -> None:
        """Unpersist a held relation early (a persist-chain parent)."""
        self._held = [h for h in self._held if h is not df]
        df.unpersist()

    def view(self, df: DataFrame, prefix: str) -> str:
        """Bind ``df`` to a fresh temp view dropped at exit; returns its
        name (rebinding it with createOrReplaceTempView keeps the drop)."""
        name = f"{prefix}_{uuid4().hex[:12]}"
        self._views.append(name)
        df.createOrReplaceTempView(name)
        return name

    def pin(self, width: int | None = None) -> None:
        """AQE off and, given ``width``, shuffle width ``max(1, width)``."""
        global _active_pins
        if self._saved is None:
            self._saved = (self.spark.conf.get(_WIDTH), self.spark.conf.get(_AQE))
            with _pins_lock:
                _active_pins += 1
        if width is not None:
            self.spark.conf.set(_WIDTH, str(max(1, width)))
        self.spark.conf.set(_AQE, "false")

    def close(self) -> None:
        global _active_pins
        try:
            for df in self._held:
                df.unpersist()
            for name in self._views:
                self.spark.catalog.dropTempView(name)
        finally:
            self._held, self._views = [], []
            if self._saved is not None:
                (width, aqe), self._saved = self._saved, None
                try:
                    self.spark.conf.set(_WIDTH, width)
                    self.spark.conf.set(_AQE, aqe)
                finally:
                    with _pins_lock:
                        _active_pins -= 1


@contextmanager
def scope(spark: SparkSession):
    """Hold one call's persists, views and pin; release all on exit."""
    sc = Scope(spark)
    try:
        yield sc
    finally:
        sc.close()
