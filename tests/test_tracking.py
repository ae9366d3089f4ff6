"""Block lifetimes (dedup/tracking.py): a scope releases the frames
registered inside it, on normal exit and on error; frames registered
outside any scope wait in the session registry for drain_tracked()."""

import threading

import pytest

from dedup.tracking import drain_tracked, register, scope


def _stored(df):
    level = df.storageLevel
    return level.useMemory or level.useDisk


# each test caches a distinct range: the cache manager keys entries by
# plan, so two equal plans would share (and release) one entry
def test_scope_releases_on_error(spark):
    df = spark.range(101).cache()
    with pytest.raises(RuntimeError):
        with scope():
            register(df).count()
            raise RuntimeError("stage failed")
    assert not _stored(df)


def test_nested_scope_releases_only_its_own_frames(spark):
    with scope() as outer_frames:
        outer = register(spark.range(102).cache())
        with scope() as inner_frames:
            inner = register(spark.range(103).cache())
            assert len(inner_frames) == 1
        assert not _stored(inner)
        assert _stored(outer) and len(outer_frames) == 1
    assert not _stored(outer)


def test_other_thread_registers_to_session_registry(spark):
    df = spark.range(104).cache()
    with scope() as frames:
        worker = threading.Thread(target=register, args=(df,))
        worker.start()
        worker.join()
        assert frames == []
    assert _stored(df)  # the main thread's scope did not take it
    drain_tracked()
    assert not _stored(df)


def test_unscoped_frame_released_by_drain_tracked(spark):
    df = register(spark.range(105).cache())
    df.count()
    assert _stored(df)
    drain_tracked()
    assert not _stored(df)
