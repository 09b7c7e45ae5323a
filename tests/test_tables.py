"""Fixture loader (sources/tables.py): the per-session plan memo."""

from __future__ import annotations

import gc
import weakref

from pyspark.sql.session import _monkey_patch_RDD

from bob_vector_db_spark.sources import load_table, tables


def test_load_table_memo_dies_with_its_session(spark, sf_dir):
    """The memo keys each session weakly: a second load in the same
    session reuses the memoized plan, and once the session object is
    gone its entries go too — nothing pins a dead session."""
    other = spark.newSession()
    # every SparkSession constructor rebinds RDD.toDF to itself (a strong
    # ref); point it back at the suite's session
    _monkey_patch_RDD(spark)
    first = load_table(other, sf_dir, "embeddings")
    again = load_table(other, sf_dir, "embeddings")
    assert again._jdf.equals(first._jdf)
    assert again.collect() == first.collect()
    assert other in tables._DF_MEMO
    ref = weakref.ref(other)
    del other, first, again
    gc.collect()
    assert ref() is None  # and with it, its WeakKeyDictionary entry
