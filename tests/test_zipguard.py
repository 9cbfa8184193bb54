"""The zip-archive guard (``youtube_podcast_data_pipeline_azure_spark.zipguard``):
an unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a rewritten one is, and a reused Python worker keeps one directory of
``pyspark.zip`` across tasks."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

import youtube_podcast_data_pipeline_azure_spark  # noqa: F401  (installs the guard)


def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zg_mod_a.py", "VALUE = 'a'\n")
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zg_mod_a").VALUE == "a"
        importlib.invalidate_caches()  # the guard's first read records the stamp
        first = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is first

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zg_mod_b.py", "VALUE = 'b'\n")
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is not first
        assert importlib.import_module("zg_mod_b").VALUE == "b"
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("zg_mod_a", "zg_mod_b"):
            sys.modules.pop(name, None)


def test_reused_worker_keeps_one_pyspark_zip_directory(spark):
    """A reused worker's third and later tasks find the same directory
    object (the first guarded invalidation re-reads once); without the
    guard every task replaces it."""

    @F.pandas_udf("string")
    def zip_directory(ids: pd.Series) -> pd.Series:
        """``<worker pid>:<distinct pyspark.zip directories this worker held>``.
        Every directory seen is kept alive, so ``id()`` values cannot be
        recycled and the count only grows when the archive is re-read."""
        import zipimport

        import youtube_podcast_data_pipeline_azure_spark  # noqa: F401

        seen = zipimport.__dict__.setdefault("_zipguard_test_seen", [])
        archive = next(k for k in zipimport._zip_directory_cache if k.endswith("pyspark.zip"))
        seen.append(zipimport._zip_directory_cache[archive])
        return pd.Series([f"{os.getpid()}:{len({id(d) for d in seen})}"] * len(ids))

    per_worker: dict[str, list[int]] = {}
    for _ in range(60):
        (got,) = spark.range(1, numPartitions=1).select(zip_directory("id")).first()
        pid, distinct = got.split(":")
        per_worker.setdefault(pid, []).append(int(distinct))
        if max(len(v) for v in per_worker.values()) >= 4:
            break
    reused = {pid: v for pid, v in per_worker.items() if len(v) >= 3}
    assert reused, per_worker
    for counts in reused.values():
        assert counts[-1] == counts[-2], per_worker
