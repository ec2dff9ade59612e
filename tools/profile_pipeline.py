"""One-level pipeline profile: stage-by-stage wall clock at a given
parallelism (single run, full metrics printed). For repeated,
seeded measurements use perfbench/run.py.

Usage: python tools/profile_pipeline.py [n] [cpus]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("OMP_NUM_THREADS", "1")

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from deduper_spark.config import DedupConfig, FuzzyConfig
    from deduper_spark.pipeline import DedupPipeline
    from deduper_spark.session import get_spark
    from deduper_spark.synth import make_df

    spark = get_spark(f"prof{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus,
                      extra_conf={
                          "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    df = make_df(spark, 42, n).persist()
    df.count()

    @F.pandas_udf("long")
    def _warm(x: pd.Series) -> pd.Series:
        return x

    spark.range(0, cpus * 1000, numPartitions=cpus).select(
        _warm("id")).write.format("noop").mode("overwrite").save()

    # steady-state warmup (JIT/codegen/Arrow init — one-time cluster
    # costs, excluded from the timed window)
    _w = make_df(spark, 43, 1000).persist()
    _w.count()
    DedupPipeline(
        DedupConfig(fuzzy=FuzzyConfig(psnr_mode="audit"),
            # no JSON-ledger export in the benchmark: carrying raw
            # captions through the bandwidth-bound features stage
            # is the export path, not the dedup path
            include_json=False),
        collect_metrics=False,
    ).run(spark, _w)
    _w.unpersist()

    t0 = time.time()
    res = DedupPipeline(
        DedupConfig(fuzzy=FuzzyConfig(psnr_mode="audit"),
            # no JSON-ledger export in the benchmark: carrying raw
            # captions through the bandwidth-bound features stage
            # is the export path, not the dedup path
            include_json=False),
        collect_metrics=False,
    ).run(spark, df)
    res.clusters.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    print("PROFILE " + json.dumps({
        "cpus": cpus, "n": n, "sec": round(dt, 3),
        "images_per_sec": round(n / dt, 1),
        "dupes": res.report.dupe_count,
        "stages": res.metrics,
    }, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
