"""Pins for cs686_big_data_p1_spark/intermediates.py, the one memo of
shared derived state: a cold key raced by two parallel_legs threads is
produced once, distinct keys build concurrently and may nest, a failed
probe recomputes instead of erroring, and an in-place fixture rewrite
gets a fresh directory build.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid

from tests.conftest import SF_SMALL


def _name(tag: str) -> str:
    return f"{tag}_{uuid.uuid4().hex[:8]}"  # a key no earlier test warmed


def test_racing_legs_build_a_cold_key_once(spark):
    from cs686_big_data_p1_spark.functions.legs import parallel_legs
    from cs686_big_data_p1_spark.intermediates import shared

    name = _name("race")
    runs = []
    arrive = threading.Barrier(2, timeout=30)

    def produce():
        runs.append(threading.get_ident())
        time.sleep(0.5)  # hold the window open for the other leg
        return 42

    def leg():
        arrive.wait()  # both legs miss the cold key together
        return shared(spark, name, SF_SMALL, ("embeddings",), produce)

    assert parallel_legs(leg, leg) == [42, 42]
    assert len(runs) == 1


def test_stress_every_key_built_once(spark):
    """More threads than cores, a shortened switch interval, four cold
    keys each requested eight times: a lost update in the entry table
    or the lock table would show up as a second producer run."""
    import sys
    from collections import Counter
    from concurrent.futures import ThreadPoolExecutor

    from cs686_big_data_p1_spark.intermediates import shared

    names = [_name("stress") for _ in range(4)]
    runs = Counter()
    runs_lock = threading.Lock()

    def produce(nm):
        with runs_lock:
            runs[nm] += 1
        time.sleep(0.01)
        return nm

    def get(nm):
        return shared(spark, nm, SF_SMALL, ("embeddings",),
                      lambda: produce(nm))

    wanted = [nm for nm in names for _ in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(get, nm) for nm in wanted]
            got = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert got == wanted
    assert runs == {nm: 1 for nm in names}


def test_distinct_keys_overlap_and_nest(spark):
    """No global lock: two producers of different keys run at the same
    time (each waits for the other inside its producer), and a
    producer that consumes another key does not deadlock."""
    from cs686_big_data_p1_spark.functions.legs import parallel_legs
    from cs686_big_data_p1_spark.intermediates import shared

    inner, a, b = _name("inner"), _name("a"), _name("b")
    both_running = threading.Barrier(2, timeout=30)

    def produce(tag):
        both_running.wait()
        n = shared(spark, inner, SF_SMALL, ("embeddings",), lambda: 7)
        return f"{tag}{n}"

    got = parallel_legs(
        lambda: shared(spark, a, SF_SMALL, ("embeddings",),
                       lambda: produce("a")),
        lambda: shared(spark, b, SF_SMALL, ("embeddings",),
                       lambda: produce("b")),
    )
    assert got == ["a7", "b7"]


def test_failed_probe_recomputes(spark, tmp_path):
    """A frame whose backing data is gone (the stand-in for lost
    localCheckpoint blocks) and a scratch directory that was removed
    both fail their probe; the next consumer gets a rebuild, not an
    error."""
    from cs686_big_data_p1_spark.intermediates import shared, shared_dir

    src = str(tmp_path / "frame")
    frame_builds = []

    def build_frame():
        frame_builds.append(1)
        spark.range(5).write.mode("overwrite").parquet(src)
        return spark.read.parquet(src)

    name = _name("probe")
    assert shared(spark, name, SF_SMALL, ("embeddings",), build_frame).count() == 5
    assert shared(spark, name, SF_SMALL, ("embeddings",), build_frame).count() == 5
    assert len(frame_builds) == 1
    shutil.rmtree(src)
    again = shared(spark, name, SF_SMALL, ("embeddings",), build_frame)
    assert again.count() == 5 and len(frame_builds) == 2

    dir_builds = []

    def build_dir(path):
        dir_builds.append(path)
        os.makedirs(path)

    dname = _name("probe_dir")
    path = shared_dir(spark, dname, SF_SMALL, ("embeddings",), build_dir)
    assert shared_dir(spark, dname, SF_SMALL, ("embeddings",), build_dir) == path
    shutil.rmtree(path)
    assert shared_dir(spark, dname, SF_SMALL, ("embeddings",), build_dir) == path
    assert dir_builds == [path, path] and os.path.isdir(path)


def test_fixture_rewrite_gets_a_fresh_dir_build(spark, tmp_path):
    """The key carries the input tables' fingerprints: rewriting the
    fixture in place yields a new directory, built from the new rows,
    and replaces the old entry (one entry per fixture)."""
    import pandas as pd

    from cs686_big_data_p1_spark import intermediates
    from cs686_big_data_p1_spark.intermediates import shared_dir

    sf_dir = str(tmp_path)
    table = f"{sf_dir}/embeddings.parquet"

    def write_fixture(n):
        pd.DataFrame({"vec_id": range(n)}).to_parquet(table, index=False)
        st = os.stat(table)  # same-tick rewrites still move the stamp
        os.utime(table, ns=(st.st_mtime_ns + 1, st.st_mtime_ns + 1))

    def build(path):
        os.makedirs(path)
        n = len(pd.read_parquet(table))
        with open(os.path.join(path, "rows"), "w") as f:
            f.write(str(n))

    def rows(path):
        with open(os.path.join(path, "rows")) as f:
            return int(f.read())

    name = _name("rewrite")
    write_fixture(3)
    p1 = shared_dir(spark, name, sf_dir, ("embeddings",), build)
    assert shared_dir(spark, name, sf_dir, ("embeddings",), build) == p1
    write_fixture(8)
    p2 = shared_dir(spark, name, sf_dir, ("embeddings",), build)
    assert p2 != p1 and rows(p1) == 3 and rows(p2) == 8
    assert intermediates._ENTRIES[(name, sf_dir)][1] == p2
