"""Hamming-radius near-dup join (operators/hamming.py).

The pigeonhole recall guarantee is a THEOREM for d < bands, so the
tests check it as one: banded pairs must equal brute-force pairs
exactly, not approximately.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from go_nonrat_annotation_pipeline_spark.operators import hamming as HM
from go_nonrat_annotation_pipeline_spark.streaming.replay import replay


def _brute_pairs(rows, max_d):
    out = set()
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        d = bin(sa ^ sb).count("1")
        if d <= max_d:
            out.add((min(ia, ib), max(ia, ib), d))
    return out


def test_banded_pairs_equal_bruteforce_on_crafted_sigs(spark):
    """Signatures crafted around the radius: exact dup, d=1..5 edits.
    Banded join must find exactly the brute-force d≤4 set (pigeonhole
    recall 1.0 for d ≤ blocks - key_blocks = 4) and exclude the d=5
    pair. Flips are spread across DIFFERENT blocks (adversarial for
    banding: each flip corrupts one more block)."""
    base = 0b101101110011010101110010101101110011010101110010101101110011
    rows = [(1, base), (2, base)]  # d = 0
    for i, nbits in enumerate([1, 2, 3, 4, 5], start=3):
        sig = base
        for b in range(nbits):  # flip nbits bits, one per 10-bit block
            sig ^= 1 << (10 * b + 1)
        rows.append((i, sig))
    sigs = spark.createDataFrame(rows, "doc_id long, sig long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in HM.hamming_band_pairs(sigs, max_distance=4).collect()
    }
    assert got == _brute_pairs(rows, 4)
    assert all(d <= 4 for (_, _, d) in got)
    # the d=5 signature (doc 7) must not pair with base docs
    assert not any(7 in (a, b) and {a, b} & {1, 2} for (a, b, _) in got)


def test_banded_pairs_equal_bruteforce_on_corpus(spark):
    """End-to-end on real documents: banded results == brute-force over
    the actual simhash60 signatures."""
    from go_nonrat_annotation_pipeline_spark.sources.testdata import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    sigs = HM.simhash60(docs, "doc_id", "text").localCheckpoint()
    rows = [(r.doc_id, r.sig) for r in sigs.collect()]
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in HM.hamming_band_pairs(sigs, max_distance=4).collect()
    }
    assert got == _brute_pairs(rows, 4)


def test_simhash60_uses_all_sixty_bits(spark):
    """The whole point vs dedup.simhash: bits ≥ 20 must actually vary
    (the P-modulus construction pins them to zero)."""
    from go_nonrat_annotation_pipeline_spark.sources.testdata import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(100)
    sigs = HM.simhash60(docs, "doc_id", "text")
    high = sigs.select(
        (F.col("sig") / F.lit(1 << 20)).cast("long").alias("hi")
    )
    assert high.distinct().count() > 1
    assert sigs.agg(F.max("sig")).first()[0] < (1 << 60)


def test_phash60_matches_simhash60_on_utf8_payload(spark):
    """The media twin is the same signature through the binary column."""
    from go_nonrat_annotation_pipeline_spark.operators.multimodal import (
        to_binary_docs,
    )
    from go_nonrat_annotation_pipeline_spark.sources.testdata import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    a = HM.simhash60(docs, "doc_id", "text")
    b = HM.phash60(to_binary_docs(docs), "doc_id", "media")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_parameter_guards():
    with pytest.raises(ValueError, match="must divide"):
        HM.hamming_band_pairs(None, bits=60, blocks=7)
    with pytest.raises(ValueError, match="recall"):
        HM.hamming_band_pairs(None, bits=60, blocks=6, key_blocks=2, max_distance=5)


def test_incremental_pairs_only_cross_store(spark):
    """Incremental form joins incoming x store only: dup pairs inside
    the incoming batch itself are NOT emitted (they are the batch
    dedup's job, not the admission gate's)."""
    store = spark.createDataFrame(
        [(1, 7), (2, 63 << 30)], "doc_id long, sig long"
    )
    incoming = spark.createDataFrame(
        [(10, 7), (11, 6), (12, (42 << 50) + 31)], "doc_id long, sig long"
    )
    got = {
        (r.incoming_id, r.store_id, r.hamming)
        for r in HM.incremental_hamming_pairs(store, incoming).collect()
    }
    # doc 12 is >4 bits from both store sigs; the exact (10, 11) dup
    # pair inside the batch is not emitted
    assert got == {(10, 1, 0), (11, 1, 1)}


def test_stream_admission_blocks_later_batches(spark):
    """A doc admitted in batch 1 must flag its near-dup in batch 2 —
    the accumulating-store semantics."""
    store0 = spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id long, text string")
    batches = [
        [(10, "completely different words entirely")],   # admitted
        [(20, "completely different words entirely")],   # dup of 10
    ]
    frames = [
        spark.createDataFrame(rows, "doc_id long, text string")
        for rows in batches
    ]
    with replay(spark, frames) as r:
        out = HM.hamming_dedup_stream(r.stream, store0, max_distance=4)
    got = {(r.incoming_id, r.store_id) for r in out.collect()}
    assert got == {(20, 10)}
