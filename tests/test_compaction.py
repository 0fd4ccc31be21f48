"""Bucket-level corpus compaction: content-preserving, partition-pruned,
crash-safe via the hidden-staging swap, and validated end-to-end by the
snapshot ledger's invariance (compaction must not change any bucket's
count / digest-xor / byte totals)."""

from __future__ import annotations

import pytest

import time

from pyspark.sql import functions as F

import akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline as sp
from akkastreamprocessnpmpackagedependencies_spark.session import load_table


def _ingest(spark, d, src, corpus, ck, ledger=None):
    q = (
        sp.write_exact_dedup_gated(
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            corpus,
            ledger_path=ledger,
        )
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def _rows(spark, corpus):
    return sorted(
        (r.doc_id, r.digest, r.dig_bucket)
        for r in spark.read.parquet(corpus)
        .select("doc_id", "digest", "dig_bucket")
        .collect()
    )


@pytest.mark.slow
def test_compaction_preserves_content_and_ledger(spark, sf_dir, tmp_path):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    for part in range(4):  # 4 micro-batches -> up to 4 files per bucket
        d.filter(F.col("doc_id") % 4 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(0.05)
    corpus, ledger = str(tmp_path / "corpus"), str(tmp_path / "ledger")
    _ingest(spark, d, src, corpus, str(tmp_path / "ck1"), ledger)

    before = _rows(spark, corpus)
    truth = {
        r.dig_bucket: (r.n_docs, r.fp, r.bytes_sum)
        for r in sp.ledger_recompute(spark, corpus).collect()
    }
    # at least one bucket must exceed the threshold for the test to bite
    compacted = sp.compact_bucketed_corpus(spark, corpus, max_files_per_bucket=1)
    assert compacted, "no bucket exceeded the threshold; test setup broken"
    for name, n_before, n_after in compacted:
        assert n_before > 1 and n_after == 1

    # content identical, ledger state invariant, probe pruning intact
    assert _rows(spark, corpus) == before
    after = {
        r.dig_bucket: (r.n_docs, r.fp, r.bytes_sum)
        for r in sp.ledger_recompute(spark, corpus).collect()
    }
    assert after == truth
    from akkastreamprocessnpmpackagedependencies_spark.sources.io import (
        scan_has_partition_filter,
    )

    probe = spark.read.parquet(corpus).filter(F.col("dig_bucket").isin([0, 1]))
    assert scan_has_partition_filter(probe, "dig_bucket")

    # the gate still works over the compacted corpus: a replay admits
    # nothing, a novel doc still lands
    n = spark.read.parquet(corpus).count()
    _ingest(spark, d, src, corpus, str(tmp_path / "ck2"), ledger)
    assert spark.read.parquet(corpus).count() == n


def test_compaction_recovery_heals_every_crash_window(spark, sf_dir, tmp_path):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    for part in range(2):
        d.filter(F.col("doc_id") % 2 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(0.05)
    corpus = str(tmp_path / "corpus")
    _ingest(spark, d, src, corpus, str(tmp_path / "ck1"))
    before = _rows(spark, corpus)
    bucket = sorted(sp._fs_list_dirs(spark, corpus, "dig_bucket="))[0]
    live = f"{corpus}/{bucket}"
    staging = f"{corpus}/.compact_new_{bucket}"
    old = f"{corpus}/.compact_old_{bucket}"

    # window A: staging written, live untouched (crash before the swap)
    spark.read.parquet(live).coalesce(1).write.parquet(staging)
    sp._compact_recover_corpus(spark, corpus)
    assert not sp.table_exists(spark, staging)
    assert _rows(spark, corpus) == before

    # window B: live renamed away, staging complete (crash mid-swap)
    spark.read.parquet(live).coalesce(1).write.parquet(staging)
    sp.fs_rename(spark, live, old)
    sp._compact_recover_corpus(spark, corpus)
    assert sp.table_exists(spark, live)
    assert not sp.table_exists(spark, staging) and not sp.table_exists(spark, old)
    assert _rows(spark, corpus) == before

    # window C: staging installed, old not yet deleted (crash post-install)
    spark.read.parquet(live).coalesce(1).write.parquet(staging)
    sp.fs_rename(spark, live, old)
    sp.fs_rename(spark, staging, live)
    sp._compact_recover_corpus(spark, corpus)
    assert sp.table_exists(spark, live) and not sp.table_exists(spark, old)
    assert _rows(spark, corpus) == before

    # and the compaction entry point itself runs recovery first:
    spark.read.parquet(live).coalesce(1).write.parquet(staging)
    sp.fs_rename(spark, live, old)
    sp.compact_bucketed_corpus(spark, corpus, max_files_per_bucket=99)
    assert sp.table_exists(spark, live)
    assert _rows(spark, corpus) == before
