"""CheckpointFS adapter + pipeline-under-URI-root tests.

The checkpoint discipline must behave identically whether the root is a
plain local path or a filesystem URI (the production case is hdfs:// or
s3a:// — file:/ is the URI scheme this sandbox can actually exercise).
"""

from __future__ import annotations

import shutil

import pytest

from gsearch_spark.config import PipelineConfig
from gsearch_spark.fs import CheckpointFS
from gsearch_spark.operators.pipeline import NearDupPipeline

ROOT = "/tmp/gsearch_spark_fs_test"


def test_checkpointfs_primitives(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    fs = CheckpointFS(spark, f"file:{ROOT}")
    assert not fs.exists(f"file:{ROOT}/a")
    fs.mkdirs(f"file:{ROOT}/a")
    assert fs.exists(f"file:{ROOT}/a")
    fs.write_text(f"file:{ROOT}/a/x.json", '{"k": 1}')
    assert fs.read_text(f"file:{ROOT}/a/x.json") == '{"k": 1}'
    fs.rename(f"file:{ROOT}/a", f"file:{ROOT}/b")
    assert fs.exists(f"file:{ROOT}/b/x.json")
    assert not fs.exists(f"file:{ROOT}/a")
    fs.delete(f"file:{ROOT}/b")
    assert not fs.exists(f"file:{ROOT}/b")


def test_local_fastpath_matches_jvm_backend(spark, monkeypatch):
    """The os-based local fast path and the Hadoop JVM path must agree
    on every observable: existence, rename refusal semantics (src
    missing / dst present -> False), move_children counts + _SUCCESS
    skipping, create_atomic mutual exclusion, list_children contents
    (checksum sidecars hidden), mkdirs refusal when a file is in the
    way."""
    import os

    def drive(fs, root):
        fs.mkdirs(f"{root}/src")
        fs.write_text(f"{root}/src/part-0", "a")
        fs.write_text(f"{root}/src/part-1", "b")
        fs.write_text(f"{root}/src/_SUCCESS", "")
        # a checksum sidecar as a JVM-path Spark write leaves it beside
        # its part file: listings must hide it on both backends
        with open(f"{root}/src/.part-0.crc", "w") as f:
            f.write("crc")
        obs = []
        obs.append(fs.exists(f"{root}/src"))            # True
        # rename of a MISSING src: HDFS returns false, the Hadoop local
        # impl raises FileNotFoundException, the fast path returns
        # False — callers always exists()-guard (swap protocols), so
        # "refused either way" is the observable that must match
        try:
            obs.append(bool(fs.rename(f"{root}/missing", f"{root}/x")))
        except Exception:
            obs.append(False)
        # rename onto a FRESH path (the only shape the swap protocols
        # use — dst-exists behavior differs between Hadoop backends)
        obs.append(fs.rename(f"{root}/src", f"{root}/dstdir"))  # True
        obs.append(sorted(c.rsplit("/", 1)[-1]
                          for c in fs.list_children(f"{root}/dstdir")))
        obs.append(fs.move_children(f"{root}/dstdir",
                                    f"{root}/flat"))           # 2 files
        obs.append(sorted(c.rsplit("/", 1)[-1]
                          for c in fs.list_children(f"{root}/flat")))
        obs.append(fs.create_atomic(f"{root}/lock", "me"))     # True
        obs.append(fs.create_atomic(f"{root}/lock", "other"))  # False
        obs.append(fs.read_text(f"{root}/lock"))               # "me"
        obs.append(fs.mkdirs(f"{root}/lock"))        # False: a file
        obs.append(fs.mkdirs(f"{root}/lock/sub"))    # False: parent file
        obs.append(fs.mkdirs(f"{root}/newdir/sub"))            # True
        obs.append(fs.delete(f"{root}/nothing"))               # False
        obs.append(fs.delete(f"{root}/dstdir"))                # True
        obs.append(fs.exists(f"{root}/dstdir"))                # False
        return obs

    root_a = "/tmp/gsearch_spark_fs_fast"
    root_b = "/tmp/gsearch_spark_fs_jvm"
    for r in (root_a, root_b):
        shutil.rmtree(r, ignore_errors=True)
    fast = CheckpointFS(spark, root_a)
    assert fast._local, "local scheme must take the fast path"
    monkeypatch.setenv("GSEARCH_FS_JVM", "1")
    jvm = CheckpointFS(spark, root_b)
    assert not jvm._local
    assert drive(fast, root_a) == drive(jvm, root_b)
    for r in (root_a, root_b):
        shutil.rmtree(r, ignore_errors=True)


def test_pipeline_under_file_uri_with_reliable_cc(spark, small_fixture_dir):
    """Full pipeline with a file:/ URI checkpoint root and Parquet-based
    CC lineage cuts == the plain-path localCheckpoint run, row for row."""
    shutil.rmtree(f"{ROOT}_plain", ignore_errors=True)
    shutil.rmtree(f"{ROOT}_uri", ignore_errors=True)
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")

    plain = NearDupPipeline(spark, PipelineConfig(),
                            f"{ROOT}_plain").run(images, resume=False)
    cfg = PipelineConfig(cc_reliable_checkpoints=True)
    uri = NearDupPipeline(spark, cfg,
                          f"file:{ROOT}_uri").run(images, resume=False)
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, uri.collect()))
    assert a == b

    # mixed-config refusal must work through the FS path too
    with pytest.raises(ValueError, match="different pipeline config"):
        NearDupPipeline(spark, PipelineConfig(caption_kgram=4),
                        f"file:{ROOT}_uri").run(images, resume=True)
