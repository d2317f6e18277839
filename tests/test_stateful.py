"""T6 — online stateful LWW: the final emitted winner per key must equal
the batch LWW (GroupState runtime, ``online_lww_changelog_gs``)."""

from __future__ import annotations

import pytest

from cdc.dedup import last_writer_wins
from cdc.schema.registry import default_registry
from cdc.stream.stateful import online_lww_changelog_gs
from cdc.testing.gen import gen_change_events, write_change_log


@pytest.fixture(scope="module")
def rocksdb_spark(spark):
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    yield spark
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def _run_changelog(spark, tmp_path, op):
    """Drive ``op`` (a changelog-producing stateful operator) over a
    multi-epoch stream and compare its final winners to the batch LWW."""
    log = str(tmp_path / "log")
    ev = gen_change_events(spark, n_keys=150, mean_events_per_key=4, seed=23)
    write_change_log(ev, log, events_per_file=400)

    registry = default_registry()
    stream = spark.readStream.schema(registry.spark_schema(3)) \
        .option("maxFilesPerTrigger", 2) \
        .parquet(f"{log}/v=3")
    # v=3 subset only (single schema) — the stateful op itself is under test
    changelog = op(stream)

    sink = str(tmp_path / "out")
    q = (changelog.writeStream.format("parquet")
         .option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append")           # file sink requires append; each
         .trigger(availableNow=True)     # row is a changelog entry
         .start())
    q.awaitTermination()

    out = spark.read.parquet(sink)
    # last emitted row per key == batch LWW over the same events
    final = last_writer_wins(out, keys=("repo", "path"), order=("lsn",))
    batch_events = spark.read.schema(registry.spark_schema(3)).parquet(f"{log}/v=3")
    expected = last_writer_wins(batch_events, keys=("repo", "path"), order=("lsn",))

    got = {(r.repo, r.path, r.lsn, r.op) for r in
           final.select("repo", "path", "lsn", "op").collect()}
    exp = {(r.repo, r.path, r.lsn, r.op) for r in
           expected.select("repo", "path", "lsn", "op").collect()}
    assert got == exp
    # multiple epochs actually ran (otherwise this tested nothing stateful)
    assert out.count() >= len(exp)


def test_online_lww_groupstate_matches_batch_lww(rocksdb_spark, tmp_path):
    """T6 (GroupState runtime — works without protobuf)."""
    _run_changelog(rocksdb_spark, tmp_path, online_lww_changelog_gs)

