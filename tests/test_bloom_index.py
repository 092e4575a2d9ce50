"""Record-key bloom index: no false negatives ever, bounded false
positives, and probe pruning that beats range pruning on interleaved
key layouts (the case ranges provably cannot prune)."""

import random

from pyspark.sql import functions as F

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.tables.bloom import KeyBloom
from onehouse_demos_spark.tables.table import KEY_COL
from tests.conftest import count_jobs


def test_bloom_no_false_negatives_and_low_fpp():
    rng = random.Random(42)
    keys = [f"key-{rng.randrange(10**12)}" for _ in range(5000)]
    bloom = KeyBloom.build(keys)
    assert all(bloom.might_contain(k) for k in keys)  # hard guarantee
    probes = [f"absent-{i}" for i in range(20000)]
    fpp = sum(bloom.might_contain(p) for p in probes) / len(probes)
    assert fpp < 0.05, fpp
    # round-trips through the manifest encoding
    back = KeyBloom.from_b64(bloom.to_b64())
    assert all(back.might_contain(k) for k in keys)
    assert back.m_bits == bloom.m_bits and back.k == bloom.k


def _interleaved_table(spark, tmp_base):
    """Two commits whose files span the SAME key range (even vs odd
    keys zero-padded to interleave): range pruning keeps both, blooms
    can tell them apart."""
    t = LakehouseTable.create(
        spark,
        tmp_base + "/t",
        TableConfig(name="t", record_key=["id"], precombine="ver"),
    )
    evens = [(f"{i:06d}", 1, "e") for i in range(0, 2000, 2)]
    odds = [(f"{i:06d}", 1, "o") for i in range(1, 2000, 2)]
    ddl = "id string, ver int, v string"
    t.insert(spark.createDataFrame(evens, ddl).coalesce(1))
    t.insert(spark.createDataFrame(odds, ddl).coalesce(1))
    return t


def test_bloom_prunes_interleaved_files(spark, tmp_base):
    t = _interleaved_table(spark, tmp_base)
    files = t.manifest.live_files(include_logs=False)
    assert len(files) == 2 and all(f.key_bloom for f in files)
    # ranges fully overlap → range pruning keeps both files
    lo = min(f.key_min for f in files)
    hi = max(f.key_max for f in files)
    assert all(f.key_min <= hi and f.key_max >= lo for f in files)
    # probe three even keys: bloom pruning must drop the odd file
    probe = spark.createDataFrame(
        [("000002",), ("000100",), ("001998",)], "k string"
    ).select(F.col("k").alias(KEY_COL))
    cand, n, keys, exact = t._files_for_keys(probe)
    assert n == 3
    assert not exact
    assert sorted(keys) == ["000002", "000100", "001998"]
    assert len(cand) == 1, [f.path for f in cand]
    evens_file = cand[0]
    # and the kept file really is the even one
    got = {r[0] for r in spark.read.parquet(
        t.base_path + "/" + evens_file.path).select("v").distinct().collect()}
    assert got == {"e"}


def test_bloom_pruning_skipped_for_bulk_batches(spark, tmp_base):
    """Above the key threshold the collect is pure cost — the resolver
    must pass candidates through untouched, with its one aggregate as
    the only job."""
    t = _interleaved_table(spark, tmp_base)
    files = t.manifest.live_files(include_logs=False)
    big = t.BLOOM_PROBE_MAX_KEYS + 1
    probe = spark.range(big).select(
        F.format_string("%06d", F.col("id")).alias(KEY_COL)
    )
    (kept, n, keys, _exact), jobs = count_jobs(
        spark, "bloom-bulk", lambda: t._files_for_keys(probe)
    )
    assert n == big
    assert kept == files
    assert keys is None
    assert jobs == 1


def test_upsert_correct_after_bloom_pruning(spark, tmp_base):
    """End-to-end: a point upsert lands in the right file and the
    untouched file survives byte-identical."""
    t = _interleaved_table(spark, tmp_base)
    before = {f.path for f in t.manifest.live_files(include_logs=False)}
    t.upsert(spark.createDataFrame(
        [("000100", 2, "E2")], "id string, ver int, v string"))
    after = {f.path for f in t.manifest.live_files(include_logs=False)}
    # exactly one of the two original files was replaced
    assert len(before & after) == 1 and len(after) == 2
    snap = {r.id: r.v for r in t.snapshot().collect()}
    assert snap["000100"] == "E2" and snap["000101"] == "o"
    assert len(snap) == 2000
