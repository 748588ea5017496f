"""Cross-batch keyed state via applyInPandasWithState: totals accumulate
across micro-batches (file source, maxFilesPerTrigger=1)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.streaming.stateful import running_user_totals


def test_running_totals_accumulate_across_batches(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(json.dumps({"user_id": u, "value": float(v)}) for u, v in [(1, 10), (1, 5), (2, 7)])
    )
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"user_id": u, "value": float(v)}) for u, v in [(1, 1), (3, 2)])
    )

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = running_user_totals(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("totals")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM totals").collect()
    # last emission per user reflects the running total across both batches
    last = {}
    for r in rows:
        last[r.user_id] = (r.n_events, r.total_value)
    assert last[1] == (3, 16.0)  # 2 events in batch0 + 1 in batch1
    assert last[2] == (1, 7.0)
    assert last[3] == (1, 2.0)

