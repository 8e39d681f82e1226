"""sources/hadoop_fs — the shared Hadoop FileSystem helpers and the
versioned single-artifact store (manifests, sidecars)."""

from __future__ import annotations

import os
import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from beis_orp_data_service_spark.sources import hadoop_fs as hfs


def test_bytes_roundtrip_and_exists(spark, tmp_path):
    p = str(tmp_path / "artifact.bin")
    assert not hfs.exists(spark, p)
    hfs.write_bytes_rename(spark, p, b"\x00payload\xff")
    assert hfs.exists(spark, p)
    assert hfs.read_bytes(spark, p) == b"\x00payload\xff"
    # no stray temp file left behind (dotfiles = Hadoop local-FS
    # checksum sidecars, invisible to FileSystem listings)
    visible = [n for n in os.listdir(tmp_path) if not n.startswith(".")]
    assert visible == ["artifact.bin"]


def test_versioned_store_commit_read_gc(spark, tmp_path):
    d = str(tmp_path / "store")
    assert hfs.latest_version(spark, d, "m-", ".json") == -1
    assert hfs.read_latest_versioned(spark, d, "m-", ".json") == (-1, None)
    for v in range(15):
        hfs.write_new_versioned(spark, d, "m-", ".json", v, f"v{v}".encode(), keep=10)
    ver, data = hfs.read_latest_versioned(spark, d, "m-", ".json")
    assert ver == 14 and data == b"v14"
    names = [n for n in os.listdir(d) if n.startswith("m-")]
    # GC bounds retained versions to `keep`
    assert len(names) == 10
    assert hfs.latest_version(spark, d, "m-", ".json") == 14
    # oldest retained is 5 (15 commits, keep 10)
    assert min(names) == f"m-{5:020d}.json"


def test_versioned_store_ignores_foreign_files(spark, tmp_path):
    d = str(tmp_path / "store2")
    hfs.write_new_versioned(spark, d, "m-", ".json", 3, b"x")
    hfs.write_bytes_rename(spark, f"{d}/m-notanumber.json", b"junk")
    hfs.write_bytes_rename(spark, f"{d}/other.txt", b"junk")
    assert hfs.latest_version(spark, d, "m-", ".json") == 3


def test_list_names_missing_dir(spark, tmp_path):
    assert hfs.list_names(spark, str(tmp_path / "nope")) == []


def test_read_scd_store_missing_raises_typed(spark, tmp_path):
    from beis_orp_data_service_spark.streaming import pipeline as st

    with pytest.raises(FileNotFoundError):
        st.read_scd_store(spark, str(tmp_path / "never_written"))


def test_versioned_store_rejects_keep_zero(spark, tmp_path):
    with pytest.raises(ValueError):
        hfs.write_new_versioned(spark, str(tmp_path / "s"), "m-", ".json", 0, b"x", keep=0)


def test_ann_index_centroids_missing_raises_typed(spark, tmp_path):
    from beis_orp_data_service_spark.operators import similarity as sim

    with pytest.raises(FileNotFoundError):
        sim.ann_index_centroids(spark, str(tmp_path / "idx_missing"))
