"""The cache-lifetime contract: ``session.cached`` and ``session.detach``.

Every frame the engine persists goes through ``cached``, which
releases it on every exit from its ``with`` block. Catalog builders
return ``detach``ed frames, whose rows live in checkpoint blocks and
so survive that release. The source scan at the bottom keeps it the
only way: a hand-written persist/unpersist pair anywhere else fails.
"""

from __future__ import annotations

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from aws_weather_data_pipeline_spark.session import cached, detach

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def test_cached_releases_on_normal_return(spark):
    spark.catalog.clearCache()
    with cached(spark.range(10)) as df:
        assert df.count() == 10
        assert not _cache_manager(spark).isEmpty()
    assert _cache_manager(spark).isEmpty()


def test_cached_releases_when_the_body_raises(spark):
    spark.catalog.clearCache()
    with pytest.raises(KeyError):
        with cached(spark.range(10)) as df:
            df.count()
            raise KeyError("body failed")
    assert _cache_manager(spark).isEmpty()


def test_cached_releases_when_the_fill_count_raises(spark):
    spark.catalog.clearCache()
    failing = spark.range(3).filter(
        F.assert_true(F.col("id") < 0).isNull()
    )
    with pytest.raises(Exception, match="id < 0"):
        with cached(failing) as df:
            df.count()
    assert _cache_manager(spark).isEmpty()


def test_detached_result_stays_readable_after_release(spark):
    spark.catalog.clearCache()
    with cached(spark.range(100)) as df:
        df.count()
        out = detach(df.filter(F.col("id") % 10 == 0))
    assert _cache_manager(spark).isEmpty()
    assert sorted(r.id for r in out.collect()) == list(range(0, 100, 10))


#: Files allowed to call persist/unpersist directly, with the reason.
#: ``perfbench/`` is not scanned: it is the frozen benchmark harness.
ALLOWED = {
    "aws_weather_data_pipeline_spark/session.py": "defines cached()",
}

_CALL = re.compile(r"\.(?:un)?persist\(")


def test_persist_only_through_cached():
    scanned = 0
    offenders = []
    for path in glob.glob(os.path.join(ROOT, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)
        if rel.startswith(("perfbench" + os.sep, ".")) or rel in ALLOWED:
            continue
        scanned += 1
        with open(path) as fh:
            for n, line in enumerate(fh, 1):
                if _CALL.search(line):
                    offenders.append(f"{rel}:{n}: {line.strip()}")
    assert scanned > 50, f"scan found only {scanned} files"
    assert not offenders, (
        "persist through session.cached (or add an ALLOWED entry with "
        "its reason): " + "; ".join(offenders)
    )
