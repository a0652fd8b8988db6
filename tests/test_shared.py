"""plans.shared: one value per (sf_dir, source-table fingerprints) and
session — a second lookup reuses it, rewritten source data or a lookup
from another session rebuilds it — and the registry names the build
steps bench.py reports as ``build_seconds``."""

from __future__ import annotations

import shutil

import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from n2khab_mhq_data_spark import plans
from n2khab_mhq_data_spark.catalog import load


@pytest.fixture
def region_rows():
    """A shared step over ``region`` that counts its builds; unregistered
    again afterwards so the registry keeps only the engine's steps."""
    builds = []

    @plans.shared("test_region_rows", "region")
    def get(spark, sf_dir):
        builds.append(spark)
        return load(spark, sf_dir, "region").localCheckpoint()

    yield get, builds
    del plans.SHARED["test_region_rows"]


def test_second_lookup_reuses_the_value(spark, sf_dir, region_rows):
    get, builds = region_rows
    first = get(spark, sf_dir)
    assert get(spark, sf_dir) is first
    assert len(builds) == 1


def test_rewritten_table_rebuilds(spark, sf_dir, tmp_path, region_rows):
    get, builds = region_rows
    path = tmp_path / "region.parquet"
    shutil.copyfile(f"{sf_dir}/region.parquet", path)
    table = pq.read_table(path)
    assert get(spark, str(tmp_path)).count() == table.num_rows

    pq.write_table(table.slice(0, 2), path)
    assert get(spark, str(tmp_path)).count() == 2
    assert len(builds) == 2


def test_other_session_entries_are_evicted(spark, sf_dir, region_rows):
    get, builds = region_rows
    other = spark.newSession()
    theirs = get(other, sf_dir)
    assert theirs.sparkSession is other

    ours = get(spark, sf_dir)
    assert ours is not theirs
    assert ours.sparkSession is spark
    assert builds == [other, spark]
    assert all(
        owner is spark for owner, _ in plans._SHARED_VALUES.values()
    )


def test_registry_names_the_bench_build_steps():
    entrymod.queries()  # registers every plans module
    assert set(plans.SHARED) == {
        "near_pairs",
        "components",
        "bigram_lm",
        "kmeans_cents",
        "bpe_merges",
        "bm25_index",
        "copurchase_edges",
        "lsvi_levels",
    }
