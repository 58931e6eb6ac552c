from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.batching import (
    foreach_partition_batched,
)
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources import rest_source

# NB: the executor-shipped callables below are CLOSURES, not
# module-level functions — cloudpickle serializes closures by value,
# while module-level functions pickle by reference and the Python
# workers cannot import a pytest test module.


def test_foreach_partition_batched_side_effects(spark, tmp_path):
    """K5 volume path: the batched action runs on executors, once per
    <=batch_size chunk per partition, covering every row exactly once."""
    marker_dir = str(tmp_path / "markers")
    os.makedirs(marker_dir)

    def record_batch(batch: list[dict]) -> None:
        import json as _json
        import tempfile as _tempfile

        fd, _ = _tempfile.mkstemp(
            prefix=f"batch_{len(batch)}_", suffix=".json", dir=marker_dir
        )
        with os.fdopen(fd, "w") as f:
            _json.dump(batch, f)

    df = spark.range(0, 37).select(F.col("id")).repartition(4)
    foreach_partition_batched(df, record_batch, batch_size=5)
    seen = []
    for fn in os.listdir(marker_dir):
        with open(os.path.join(marker_dir, fn)) as f:
            seen.extend(r["id"] for r in json.load(f))
    assert sorted(seen) == list(range(37))
    assert all(int(fn.split("_")[1]) <= 5 for fn in os.listdir(marker_dir))


def test_fetch_distributed_maps_partitions(spark):
    """S5 scale path: qualifier batches POST from executors via
    mapInPandas; every qualifier is fetched exactly once."""

    def canned_transport(url: str, body: str) -> tuple[int, str]:
        import json as _json

        quals = _json.loads(body)["from"]["locations"]["qualifiers"]
        return 200, _json.dumps({"fetched": quals})

    quals = spark.createDataFrame(
        [(f"org/q{i}",) for i in range(20)], "qualifier STRING"
    ).repartition(4)
    docs = rest_source.fetch_distributed(
        spark, "http://x", canned_transport, ["K1"], quals, "qualifier",
        "2023-04-01", "2023-04-02", batch_size=3,
    )
    rows = [json.loads(r["raw"]) for r in docs.collect()]
    fetched = sorted(q for r in rows for q in r["fetched"])
    assert fetched == sorted(f"org/q{i}" for i in range(20))
    assert all(len(r["fetched"]) <= 3 for r in rows)
