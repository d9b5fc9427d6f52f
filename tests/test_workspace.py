"""The registry's shared-state owner (``queries_registry.Workspace``)
on tiny local frames: ``get`` builds once per key, and ``release``
frees what the entries hold — cached frames and checkpoint cuts."""

from mr_lda_spark.queries_registry import Workspace


def _persistent(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _level(df) -> tuple:
    lvl = df.storageLevel
    return lvl.useMemory, lvl.useDisk


def test_get_builds_once_and_release_frees_every_entry(spark):
    before = _persistent(spark)
    ws = Workspace()
    builds = []

    def cached():
        builds.append("cached")
        df = spark.range(10).persist()
        df.count()
        return df

    def cut():
        builds.append("cut")
        return spark.range(5).localCheckpoint(), 5

    frame = ws.get(spark, ("cached", "sf"), cached)
    cut_frame, _ = ws.get(spark, ("cut",), cut)
    assert ws.get(spark, ("cached", "sf"), cached) is frame
    assert ws.get(spark, ("cut",), cut)[0] is cut_frame
    assert builds == ["cached", "cut"]
    assert _level(frame) == (True, True)
    assert len(_persistent(spark) - before) == 2

    ws.release(("cut",))
    assert len(_persistent(spark) - before) == 1
    assert _level(frame) == (True, True)
    ws.release()
    assert _persistent(spark) == before
    assert _level(frame) == _level(cut_frame) == (False, False)

    # A released key builds again on the next get.
    ws.get(spark, ("cut",), cut)
    assert builds == ["cached", "cut", "cut"]
    ws.release()
    assert _persistent(spark) == before


def test_shared_memoises_per_arguments(spark):
    ws = Workspace()
    calls = []

    @ws.shared
    def square(spark, n):
        calls.append(n)
        return n * n

    assert [square(spark, 3), square(spark, 3), square(spark, 4)] == [9, 9, 16]
    assert calls == [3, 4]
    ws.release(("square", 3))
    assert square(spark, 3) == 9 and calls == [3, 4, 3]
