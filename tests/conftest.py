from __future__ import annotations

import datetime as dt

import pytest

from mbgspark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mbgspark-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def bigram_on():
    """``bigram_surprise`` on one forced path: a leaf-byte floor of 0 picks
    the vectorized scorer (a ``createDataFrame`` leaf reports
    Long.MaxValue bytes, so only the fold needs an unreachable floor).
    The MapInPandas plan marker makes a patch that stops steering fail."""
    from unittest.mock import patch

    from mbgspark.operators import textstats

    def run(df, vectorized: bool):
        floor = 0 if vectorized else float("inf")
        with patch.object(textstats, "LM_VECTORIZED_MIN_BYTES", floor):
            out = textstats.bigram_surprise(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("MapInPandas" in plan) == vectorized, plan
        return out

    return run


@pytest.fixture(scope="session")
def ngram_on():
    """Sorted ``ngram_jaccard_pairs`` rows of an ``(id, t)`` frame on one
    forced path: a row cap of 0 sends every non-empty corpus to the
    distributed join. Only that join explodes shingles, so the Generate
    plan marker makes a patch that stops steering fail."""
    from unittest.mock import patch

    from mbgspark.operators import dedup

    def run(df, distributed: bool, **kw):
        cap = 0 if distributed else dedup.NGRAM_DRIVER_ROW_CAP
        with patch.object(dedup, "NGRAM_DRIVER_ROW_CAP", cap):
            out = dedup.ngram_jaccard_pairs(df, "id", "t", **kw)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("Generate" in plan) == distributed, plan
        return sorted(tuple(r) for r in out.collect())

    return run


@pytest.fixture(scope="session")
def tweets_raw(spark):
    """FIXTURES.md §1-shaped inline fixture: dup ids, dup texts, short texts,
    URLs/mentions/hashtags/city names, late data."""
    ts = dt.datetime
    rows = [
        # (_id, text, created_at, scraped_at, tweet_url, handle, name, loc, r, rt, l)
        ("1", "Program MBG bagus di Jakarta Selatan! http://x.co/a #MBG",
         ts(2025, 1, 1, 10), ts(2025, 1, 1, 11), "https://x.com/u/status/1", "u1", "Andi", None, 1, 2, 3),
        ("2", "makanan gratis gagal total di sby @pemkot",
         ts(2025, 1, 1, 12), ts(2025, 1, 1, 13), "https://x.com/u/status/2", "u2", "Budi", None, 0, 0, 1),
        ("2", "makanan gratis gagal total di sby @pemkot",  # dup _id (D1)
         ts(2025, 1, 1, 12), ts(2025, 1, 1, 14), "https://x.com/u/status/2", "u2", "Budi", None, 0, 0, 2),
        ("3", "MBG   berhasil,   anak sehat\n\ndi Bandung",
         ts(2025, 1, 2, 9), ts(2025, 1, 2, 10), "https://x.com/u/status/3", "u3", "Citra Semarang", None, 5, 6, 7),
        ("4", "mbg",  # too short (F3)
         ts(2025, 1, 2, 10), ts(2025, 1, 2, 11), "https://x.com/u/status/4", "u4", "Dewi", None, 0, 0, 0),
        ("5", "Program MBG bagus di Jakarta Selatan! http://x.co/a #MBG",  # dup text (D2)
         ts(2025, 1, 3, 8), ts(2025, 1, 3, 9), "https://x.com/u/status/5", "u5", "Eko", None, 1, 1, 1),
        ("6", "netral saja tentang program ini",
         ts(2025, 1, 1, 23), ts(2025, 1, 3, 9), "https://x.com/u/status/6", "u6", "Fajar", None, 0, 0, 0),  # late
    ]
    from mbgspark.schema import TWEET_RAW_SCHEMA

    return spark.createDataFrame(rows, TWEET_RAW_SCHEMA)


class _FaultFS:
    """A Hadoop FileSystem proxy that forwards every call, except that it
    crashes at one armed step: the first ``op`` call ("rename" or a
    directory "delete") made after ``after_renames`` renames went
    through. A crashing directory delete first removes one of the
    directory's part files, the state a recursive delete cut partway
    leaves on the local FS."""

    def __init__(self, real, state):
        self._real = real
        self._state = state

    def __getattr__(self, name):
        return getattr(self._real, name)

    def _armed(self, op) -> bool:
        st = self._state
        return st["op"] == op and st["renames"] >= st["after_renames"]

    def rename(self, src, dst):
        if self._armed("rename"):
            raise RuntimeError(f"injected fault: rename {src} -> {dst}")
        ok = self._real.rename(src, dst)
        self._state["renames"] += 1
        return ok

    def delete(self, p, recursive):
        real = self._real
        if (
            self._armed("delete")
            and real.exists(p)
            and real.getFileStatus(p).isDirectory()
        ):
            files = real.listFiles(p, True)
            while files.hasNext():
                f = files.next().getPath()
                if f.getName().startswith("part-"):
                    real.delete(f, False)
                    break
            raise RuntimeError(f"injected fault: delete {p}")
        return real.delete(p, recursive)


@pytest.fixture
def fault_fs(monkeypatch):
    """``arm(op, after_renames=0)`` routes ``jvmseam.hadoop_fs`` through a
    ``_FaultFS`` until the returned ``disarm()`` is called — a crash
    injected into the store-swap code, which raises ``RuntimeError``
    ("injected fault") at the armed step."""
    from mbgspark import jvmseam

    real_hadoop_fs = jvmseam.hadoop_fs

    def arm(op: str, after_renames: int = 0):
        state = {"op": op, "after_renames": after_renames, "renames": 0}

        def hadoop_fs(spark, path):
            fs, p = real_hadoop_fs(spark, path)
            return _FaultFS(fs, state), p

        monkeypatch.setattr(jvmseam, "hadoop_fs", hadoop_fs)
        return lambda: monkeypatch.setattr(jvmseam, "hadoop_fs", real_hadoop_fs)

    return arm
