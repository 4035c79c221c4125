"""extensions/caching.py: the registry persists a plan once and still
tracks every handle it is given."""

from __future__ import annotations

from pyspark.storagelevel import StorageLevel

from timeseries_spark.extensions.caching import register_cache, release_caches


def test_register_cache_persists_an_already_cached_plan_once(
    spark, monkeypatch
):
    """A second build of the same plan finds it cached: persisting it
    again only makes the CacheManager log a WARN. The handle is still
    registered, so the family release frees the block."""
    persists = []
    cls = type(spark.range(1))  # the classic DataFrame subclass
    real = cls.persist

    def counting(self, *a, **kw):
        persists.append(self)
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", counting)
    first = register_cache(spark.range(7).toDF("x"), "caching_test")
    again = register_cache(spark.range(7).toDF("x"), "caching_test")
    assert len(persists) == 1
    assert again.storageLevel == first.storageLevel != StorageLevel.NONE
    assert release_caches(spark, "caching_test") == 2
    assert again.storageLevel == StorageLevel.NONE
