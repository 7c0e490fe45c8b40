"""Stream-stream join (watermarked attribution) + block-table compaction."""

import datetime
import glob

import numpy as np
from pyspark.sql import functions as F


def _events(spark):
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in (1, 2):
        for i in range(5):
            rows.append((eid, user, "click", base + datetime.timedelta(minutes=10 * i)))
            eid += 1
        # purchase 15 min after first click: attributes to clicks at t0, t10
        rows.append((eid, user, "purchase", base + datetime.timedelta(minutes=15)))
        eid += 1
        # purchase 3h later: no clicks within 30 min
        rows.append((eid, user, "purchase", base + datetime.timedelta(hours=3)))
        eid += 1
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )


def test_stream_stream_join_matches_batch(spark, tmp_path):
    from spdb_spark.streaming.joins import join_purchases_to_clicks

    df = _events(spark)
    src = tmp_path / "ev"
    src.mkdir()
    df.write.parquet(str(src / "p"))

    batch = join_purchases_to_clicks(
        df.where("event_type = 'purchase'"), df.where("event_type = 'click'")
    ).collect()
    batch_set = {(r.user_id, r.purchase_id, r.click_id) for r in batch}
    # each user's first purchase matches clicks at +0 and +10 minutes only
    assert len(batch_set) == 4

    stream = spark.readStream.schema(df.schema).parquet(str(src / "*"))
    joined = join_purchases_to_clicks(
        stream.where("event_type = 'purchase'"), stream.where("event_type = 'click'")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }
    assert streamed == batch_set


def test_compaction_preserves_data_and_reduces_files(spark, tmp_path):
    from spdb_spark.store import CuboidStore

    store = CuboidStore(spark, str(tmp_path / "blocks"))
    rng = np.random.default_rng(11)
    # one 8-cuboid write stages one file per super-block; a Spark rewrite
    # with one cuboid per file fragments the partition
    vol = rng.integers(1, 200, size=(16, 512, 8 * 512)).astype("uint8")
    store.write_cuboid(vol, (0, 0, 0))
    store.compact(0, blocks_per_file=1)
    before = store.cutout((0, 0, 0), (512, 512, 16))
    n_files_before = len(glob.glob(store.path + "/**/*.parquet", recursive=True))
    store.compact(0)
    n_files_after = len(glob.glob(store.path + "/**/*.parquet", recursive=True))
    after = store.cutout((0, 0, 0), (512, 512, 16))
    np.testing.assert_array_equal(before, after)
    assert n_files_after < n_files_before
