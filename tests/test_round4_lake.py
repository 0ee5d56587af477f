"""Round-4 VERDICT item 5: lake-sized batches (the bucket-chunked,
broadcast-join and copy-on-write merge plans they once took are gone)
merge through the one plan, 'append', and match the LSN oracle."""

import os

from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import EngineConfig
from cdc_spark.loggen import change_log
from cdc_spark.oracle import assert_matches, replay


# ------------------------------------------------------ lake-sized batches
def _run(spark, root, zipf=2.0):
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=8
    )
    applier = CdcApply(spark, cfg)
    log = change_log(spark, 3000, n_repos=25, n_paths=8, zipf=zipf,
                     delete_rate=0.1, dup_rate=0.03, seed=53)
    infos = []
    for i in range(3):
        b = log.filter(F.pmod(F.xxhash64("lsn", F.lit(7)), F.lit(3)) == i)
        infos.extend(applier.apply_batch(b, i))
    return applier.lake_for("repos"), log, infos


def test_chunked_strategy_identical_and_selected(spark, tmpdir_factory_clean):
    """~1000-row batches spread over the whole key space (the shape the
    deleted 'chunked' strategy bin-packed) take 'append' and match the
    oracle."""
    lake, log, infos = _run(spark, tmpdir_factory_clean("agg"))
    assert {i["strategy"] for i in infos} == {"append"}
    assert_matches(
        lake.read().toPandas(), replay(log.toPandas(), EngineConfig().base_fields)
    )


def test_chunked_falls_back_to_agg_when_one_bucket_too_big(
    spark, tmpdir_factory_clean
):
    """Hot-key batches (zipf=8: one repo carries most rows, so one bucket
    dwarfs the rest) take 'append' too, result unchanged."""
    lake, log, infos = _run(spark, tmpdir_factory_clean("ckagg"), zipf=8.0)
    assert {i["strategy"] for i in infos} == {"append"}
    assert_matches(
        lake.read().toPandas(), replay(log.toPandas(), EngineConfig().base_fields)
    )
