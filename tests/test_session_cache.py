"""The session cache (trading_etl_spark.cache): entries notice when their
input files change, and the split probe keys on every split-sizing conf."""

import os
import shutil
import types

import pyarrow.parquet as pq
import pytest

from trading_etl_spark import cache
from trading_etl_spark.operators import text as tx
from trading_etl_spark.queries import datapipe, trading
from trading_etl_spark.sources import ticks

SF_DIR = os.environ.get("SPARK_GRAFT_FIXTURE_DIR", "/root/testdata/sf0.001")


def _stage(tmp_path, name: str):
    """Two sf dirs over one table split in three part files: ``full`` holds
    all three, ``grow`` the first two. Returns (full, grow, append), where
    ``append()`` moves the third part into ``grow`` mid-session."""
    src = f"{SF_DIR}/{name}"
    if not os.path.exists(src):
        pytest.skip("driver testdata corpus not present")
    t = pq.read_table(src)
    step = -(-t.num_rows // 3)
    full, grow = tmp_path / "full", tmp_path / "grow"
    for d in (full / name, grow / name):
        d.mkdir(parents=True)
    for i in range(3):
        pq.write_table(t.slice(i * step, step), str(full / name / f"part-{i}.parquet"))
    for i in range(2):
        shutil.copy2(full / name / f"part-{i}.parquet", grow / name)

    def append():
        shutil.copy(full / name / "part-2.parquet", grow / name)

    return str(full), str(grow), append


def test_events_append_rebuilds_tick_relations(spark, tmp_path):
    full, grow, append = _stage(tmp_path, "events.parquet")
    want_ticks = trading.q_ticks_dedup(spark, full).count()
    want_1m = trading.q_ohlc_1m(spark, full).count()

    before = trading.q_ticks_dedup(spark, grow)
    assert trading.q_ticks_dedup(spark, grow) is before  # warm: same object
    assert before.count() < want_ticks
    assert trading.q_ohlc_1m(spark, grow).count() < want_1m

    append()
    after = trading.q_ticks_dedup(spark, grow)
    assert after.count() == want_ticks
    # the chain, and every relation nested on it, follows the same input
    assert trading.q_ohlc_1m(spark, grow).count() == want_1m
    assert trading.q_ticks_dedup(spark, grow) is after
    cache.clear(spark)


def test_documents_append_rebuilds_corpus_relations(spark, tmp_path):
    full, grow, append = _stage(tmp_path, "documents.parquet")
    want_exact = datapipe.q_dedup_exact(spark, full).count()
    want_lsh = datapipe.q_dedup_minhash(spark, full).count()

    docs = datapipe._docs(spark, grow)
    assert datapipe._docs(spark, grow) is docs
    sh = tx._shingles_cached(docs)
    assert tx._shingles_cached(datapipe._docs(spark, grow)) is sh
    assert datapipe.q_dedup_exact(spark, grow).count() < want_exact
    assert datapipe.q_dedup_minhash(spark, grow).count() < want_lsh

    append()
    assert datapipe.q_dedup_exact(spark, grow).count() == want_exact
    # dedup_minhash_lsh reads the plan-keyed shingle relation: a parquet
    # scan's analyzed plan does not list its files, so only the input-file
    # fingerprint tells the grown directory from the cached one
    assert datapipe.q_dedup_minhash(spark, grow).count() == want_lsh
    assert tx._shingles_cached(datapipe._docs(spark, grow)) is not sh
    cache.clear(spark)


class _SplitProbe:
    """Stands in for a scan DataFrame and counts split probes."""

    def __init__(self):
        self.probes = 0

    @property
    def rdd(self):
        self.probes += 1
        return types.SimpleNamespace(getNumPartitions=lambda: 3)


def test_scan_splits_reprobes_on_open_cost_change(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    probe = _SplitProbe()
    assert ticks._scan_splits(spark, path, probe) == 3
    assert ticks._scan_splits(spark, path, probe) == 3
    assert probe.probes == 1
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "12345678")
    try:
        ticks._scan_splits(spark, path, probe)
        assert probe.probes == 2
    finally:
        spark.conf.set(key, old)
    cache.clear(spark, "scan_splits")


def test_memo_concurrent_evictions_respect_the_bound(tmp_path):
    """Racing lookups, stores and evictions keep the namespace at its bound
    without errors."""
    import sys
    import threading
    import time

    fake = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId="stress-app")
    )
    ns, n_keys, n_threads = "test_stress", cache.MAX_ENTRIES + 4, 16
    errors = []

    def build():
        time.sleep(0.0005)  # widen the window between lookup and store
        return object()

    def worker(seed):
        try:
            for i in range(200):
                k = (seed + i) % n_keys
                cache.memo(ns, fake, (k,), build, str(tmp_path / "none"))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(cache._store[ns]) <= cache.MAX_ENTRIES
    cache.clear(None, ns)


def test_memo_concurrent_builds_of_one_entry_return_the_first_stored(tmp_path):
    import threading
    import time

    fake = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId="stress-app")
    )
    barrier = threading.Barrier(16)
    out = []

    def build():
        time.sleep(0.01)
        return object()

    def worker():
        barrier.wait(timeout=30)
        out.append(cache.memo("test_race", fake, ("k",), build, str(tmp_path)))

    threads = [threading.Thread(target=worker) for _ in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert len(out) == 16 and len({id(v) for v in out}) == 1
    cache.clear(None, "test_race")
