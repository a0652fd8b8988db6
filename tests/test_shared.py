"""plans.shared: one value per (sf_dir, source-table fingerprints) and
session — a second lookup reuses it, rewritten source data or a lookup
from another session rebuilds it — the registry names the build steps
bench.py reports as ``build_seconds``, and a step that writes files
writes them under the session's Spark temp root."""

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
        "jsonl_store",
        "snapshot_store",
        "merge_store",
        "optimize_store",
        "orc_store",
        "hive_store",
        "drift_csv_store",
        "quarantine_csv_store",
        "demo_gpkg",
    }


def test_store_is_written_under_the_session_temp_root(
    spark, sf_dir, monkeypatch
):
    """A store step writes into a fresh directory under the running
    context's SparkFiles root (deleted by ``spark.stop()``), and a
    second lookup returns the same path without writing again."""
    from pathlib import Path

    from pyspark import SparkFiles

    from n2khab_mhq_data_spark.plans import pipeline

    entrymod.queries()
    made = []

    def counting_store_dir(name):
        made.append(name)
        return plans.store_dir(name)

    monkeypatch.setattr(plans, "_SHARED_VALUES", {})  # build afresh
    monkeypatch.setattr(pipeline, "store_dir", counting_store_dir)
    get = plans.SHARED["quarantine_csv_store"]
    path = get(spark, sf_dir)
    root = Path(SparkFiles.getRootDirectory()).resolve()
    assert Path(path).resolve().parent == root
    assert (Path(path) / "feed.csv").is_file()
    assert get(spark, sf_dir) == path
    assert made == ["quarantine_csv_store"]
