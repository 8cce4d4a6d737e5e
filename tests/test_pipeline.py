"""End-to-end checkpointed pipeline: routing counts, resume-without-reparse."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logstash_codec_protobuf_spark.plans.pipeline import run_pipeline
from logstash_codec_protobuf_spark.plans.checkpoint import CheckpointManifest

from .conftest import SF_DIR
from .parity import duck_connection

from logstash_codec_protobuf_spark.sources.transcripts import TRANSCRIPTS_CTE
from logstash_codec_protobuf_spark.sources.dims import TOOLS_SQL

EXPECTED_SINK_SQL = f"""
WITH {TRANSCRIPTS_CTE}, tools AS {TOOLS_SQL}
SELECT sink, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT CASE WHEN t.text LIKE 'CORRUPT%' THEN 'dead_letter'
              ELSE coalesce(tl.sink, 'dead_letter') END AS sink
  FROM transcripts t LEFT JOIN tools tl ON tl.tool = t.tool
) GROUP BY sink
"""


def _expected_sinks(sf_dir: str) -> dict[str, int]:
    con = duck_connection(sf_dir)
    return dict(con.execute(EXPECTED_SINK_SQL).fetchall())


def test_full_run_counts_match_oracle(spark, tmp_path):
    out = str(tmp_path / "job")
    result = run_pipeline(spark, SF_DIR, out, n_buckets=4, wave_size=4)
    landed = {
        r["sink"]: r["count"]
        for r in spark.read.parquet(f"{out}/routed").groupBy("sink").count().collect()
    }
    assert landed == _expected_sinks(SF_DIR)
    assert result["rows"] == sum(landed.values())
    # per-bucket lineage metrics recorded
    manifest = CheckpointManifest(f"{out}/manifest").completed()
    assert len(manifest) == 4
    assert sum(m["rows"] for m in manifest.values()) == result["rows"]


def test_empty_lineage_buckets_are_fine(spark, tmp_path):
    """More buckets than populated hash slots: empty buckets must be recorded
    as zero-row manifests, not crash the landed-count read-back."""
    out = str(tmp_path / "job_sparse")
    result = run_pipeline(spark, SF_DIR, out, n_buckets=64, wave_size=64)
    manifest = CheckpointManifest(f"{out}/manifest").completed()
    assert len(manifest) == 64
    assert sum(m["rows"] for m in manifest.values()) == result["rows"]
    assert any(m["rows"] == 0 for m in manifest.values())  # sparse at sf0.001


def test_killed_run_resumes_without_reprocessing(spark, tmp_path):
    out = str(tmp_path / "job2")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_pipeline(spark, SF_DIR, out, n_buckets=4, wave_size=2,
                     fail_after_waves=1)
    manifest = CheckpointManifest(f"{out}/manifest")
    done_before = set(manifest.completed())
    assert len(done_before) == 2  # first wave committed

    # resume: completes and the union of data is exactly right (no dupes)
    run_pipeline(spark, SF_DIR, out, n_buckets=4, wave_size=2)
    done_after = manifest.completed()
    assert set(done_after) == {0, 1, 2, 3}
    landed = {
        r["sink"]: r["count"]
        for r in spark.read.parquet(f"{out}/routed").groupBy("sink").count().collect()
    }
    assert landed == _expected_sinks(SF_DIR)


def _landed_by_bucket(spark, out: str) -> dict[int, dict[str, int]]:
    landed: dict[int, dict[str, int]] = {}
    for r in (spark.read.parquet(f"{out}/routed")
              .groupBy("_bucket", "sink").count().collect()):
        landed.setdefault(r["_bucket"], {})[r["sink"]] = r["count"]
    return landed


@pytest.mark.parametrize("killed", [False, True], ids=["fresh", "resumed"])
def test_manifest_counts_equal_landed_rows_per_bucket(spark, tmp_path,
                                                       killed):
    """Every bucket's manifest entry holds exactly the rows that landed under
    ``_bucket=b/sink=s``, sink by sink, whether the bucket was committed by a
    fresh run or by the resume of a killed one. A bucket with no rows still
    commits ``rows: 0``."""
    out = str(tmp_path / "job")
    n_buckets = 64  # more buckets than sf0.001 fills: some stay empty
    if killed:
        with pytest.raises(RuntimeError, match="simulated kill"):
            run_pipeline(spark, SF_DIR, out, n_buckets=n_buckets,
                         wave_size=16, fail_after_waves=2)
        assert len(CheckpointManifest(f"{out}/manifest").completed()) == 32
    run_pipeline(spark, SF_DIR, out, n_buckets=n_buckets, wave_size=16)
    manifest = CheckpointManifest(f"{out}/manifest").completed()
    landed = _landed_by_bucket(spark, out)
    assert set(manifest) == set(range(n_buckets))
    for b, m in manifest.items():
        assert set(m) == {"sinks", "rows", "wave_wall_sec"}
        assert m["sinks"] == landed.get(b, {}), b
        assert m["rows"] == sum(landed.get(b, {}).values())
    assert any(m["rows"] == 0 and m["sinks"] == {} for m in manifest.values())
    assert sum(map(len, landed.values())) > 2 * len(landed)  # several sinks


def test_wave_bookkeeping_py4j_commands_do_not_grow_with_buckets(
        spark, tmp_path):
    """The driver's per-wave bookkeeping (bucket filter, observed metric,
    manifest) costs a constant number of py4j round trips: a one-wave run
    over 16 buckets sends at most ~5 commands per added bucket more than one
    over 4 (one Column per (bucket, sink) metric cost ~75 each). py4j's
    object-release commands are not counted: they follow Python's GC."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            sent[0] += 1
        return send(command, *args, **kwargs)

    def commands(n_buckets: int) -> int:
        sent[0] = 0
        run_pipeline(spark, SF_DIR, str(tmp_path / f"job{n_buckets}"),
                     n_buckets=n_buckets, wave_size=n_buckets)
        return sent[0]

    run_pipeline(spark, SF_DIR, str(tmp_path / "warm"), n_buckets=4,
                 wave_size=4)  # session-level one-offs (dims, imports)
    client.send_command = counting
    try:
        small, large = commands(4), commands(16)
    finally:
        client.send_command = send
    assert large - small <= 5 * (16 - 4), (small, large)


def test_fan_out_parquet_and_writeto(spark, tmp_path):
    """fan_out writes through BOTH sinks behind the same shuffle plan:
    parquet partitionBy directories, and the DataFrameWriterV2 (writeTo)
    catalog path — Iceberg on a cluster, the built-in session catalog here
    (same API seam either way)."""
    from logstash_codec_protobuf_spark.operators.route import (
        fan_out, iceberg_available,
    )

    df = spark.range(200).select(
        F.concat(F.lit("conv-"), (F.col("id") % 9).cast("string"))
        .alias("conv_id"),
        F.col("id").alias("turn_idx"),
        F.when(F.col("id") % 3 == 0, "sink_a")
        .when(F.col("id") % 3 == 1, "sink_b")
        .otherwise("dead_letter").alias("sink"),
    )
    # parquet path
    fan_out(df, str(tmp_path / "out"))
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 200
    assert back.select("sink").distinct().count() == 3
    # writeTo path: first write creates partitioned-by-sink, second appends
    assert not iceberg_available(spark)  # sandbox: session catalog stands in
    spark.sql("DROP TABLE IF EXISTS fanout_v2_test")
    import shutil
    shutil.rmtree("spark-warehouse/fanout_v2_test", ignore_errors=True)
    fan_out(df, table="fanout_v2_test")
    assert spark.table("fanout_v2_test").count() == 200
    fan_out(df, table="fanout_v2_test")
    assert spark.table("fanout_v2_test").count() == 400
    parts = spark.sql("SHOW CREATE TABLE fanout_v2_test").first()[0]
    assert "PARTITIONED BY (sink)" in parts
    spark.sql("DROP TABLE fanout_v2_test")


def test_combo_density_sizes_hive_nested_input(tmp_path, monkeypatch):
    """The pre-write salt density counts every parquet file under the input
    directory: a Hive-nested input (``dt=1/part-*.parquet``) over 64 MB
    picks the wide density, a small flat one the narrow density."""
    from logstash_codec_protobuf_spark.plans.pipeline import (
        _combos_per_partition,
    )

    monkeypatch.delenv("SPARK_GRAFT_COMBOS_PER_PARTITION", raising=False)
    nested = tmp_path / "nested" / "dt=1"
    nested.mkdir(parents=True)
    with open(nested / "part-0.parquet", "wb") as f:
        f.truncate(65 << 20)  # sparse: no real disk use
    flat = tmp_path / "flat"
    flat.mkdir()
    (flat / "part-0.parquet").write_bytes(b"x" * 1024)
    assert _combos_per_partition("unused", str(tmp_path / "nested")) == 4
    assert _combos_per_partition("unused", str(flat)) == 1
