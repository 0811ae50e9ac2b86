"""Production pipeline entrypoint (north rule launch path).

    spark-submit --py-files s2pkg.zip scripts/run_pipeline.py \
        --input /root/testdata/sf0.1 --output /tmp/s2_out \
        [--resume] [--partitions 64]

Stages (each a checkpointed snapshot with a lineage manifest, resumable):
  1. encode   — pages scan -> geotag -> S2 cell IDs/tokens/sortable,
                range-partitioned on cell_id_sortable (Hilbert-clustered)
  2. pip      — covering containment join vs the PIP boxes + exact test
  3. tiles    — level-8 cell rollup + zoom-6 mercator heatmap
Metrics (rows, per-partition counts, wall) print as JSON at the end.

Build the zip with:  cd <repo> && zip -qr /tmp/s2pkg.zip s2cell_spark
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession

# (region_id, lat_lo, lat_hi, lon_lo, lon_hi), closed bounds
PIP_BOXES = [
    (0, 39.7, 41.7, -75.0, -73.0),   # around NYC
    (1, 50.5, 52.5, -1.1, 0.9),      # around London
    (2, 34.7, 36.7, 138.7, 140.7),   # around Tokyo
    (3, -10.0, 10.0, 0.0, 20.0),     # equatorial Africa slab
    (4, -40.0, -20.0, 110.0, 155.0), # Australia-ish
    (5, 55.0, 75.0, -160.0, -120.0), # Alaska/arctic
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir containing documents.parquet")
    ap.add_argument("--output", required=True, help="checkpoint/output root")
    ap.add_argument("--resume", action="store_true", help="reuse complete snapshots")
    ap.add_argument("--partitions", type=int, default=64)
    args = ap.parse_args()

    from s2cell_spark.operators.containment import (
        containment_join_equi,
        exact_rect_cond,
        rect_regions,
    )
    from s2cell_spark.operators.tiling import tile_heatmap
    from s2cell_spark.plans.checkpoint import CheckpointedPipeline
    from s2cell_spark.sources.pages import load_pages, with_cell_id

    spark = SparkSession.builder.appName("s2cell-spark-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if not args.resume:
        # a fresh run never trusts stale snapshots
        import shutil

        shutil.rmtree(args.output, ignore_errors=True)

    pipe = CheckpointedPipeline(spark, args.output)
    t0 = time.time()

    encoded = pipe.stage(
        "encode",
        lambda: with_cell_id(load_pages(spark, args.input)).repartitionByRange(
            args.partitions, "cell_id_sortable"
        ),
        sort_cols=("cell_id_sortable", "url"),
    )

    regions = rect_regions(PIP_BOXES)
    pip = pipe.stage(
        "pip",
        lambda: containment_join_equi(pipe.read("encode"), spark, regions, level=10)
        .filter(exact_rect_cond(PIP_BOXES))
        .select("region_id", "doc_id", "url", "cell_id", "lat", "lon"),
        inputs=("encode",),
    )

    tiles = pipe.stage(
        "tiles",
        lambda: tile_heatmap(pipe.read("encode"), zoom=6),
        inputs=("encode",),
    )

    print(
        json.dumps(
            {
                "pages": encoded.count(),
                "pip_rows": pip.count(),
                "tiles": tiles.count(),
                "wall_sec": round(time.time() - t0, 2),
                "stages": pipe.metrics,
            },
            default=str,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
