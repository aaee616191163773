"""CLI entry point — the PySpark analogue of the reference's
``PipeLine.main(defFile)`` (PipeLine.scala:7-42).

Usage:
    python -m flink_luad_pipeline_spark <definition-file> [--als-blocks N]

Reads the tab-separated definition file, runs the full pipeline
(matrix build -> ALS completion -> correlation-graph feature selection
-> SVM train/predict) and prints predictions (S4); if the definition
file declares ``def output``, also writes them as TSV (S5/S6) with the
``%s%`` token resolved to the epoch millis, like the reference.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="flink_luad_pipeline_spark",
        description="Expression-matrix classification pipeline on PySpark",
    )
    parser.add_argument("def_file", help="tab-separated definition file")
    parser.add_argument(
        "--als-blocks",
        type=int,
        default=100,
        help="ALS block count (reference default 100; lower for tiny inputs)",
    )
    args = parser.parse_args(argv)

    from .pipeline import run_pipeline
    from .session import get_spark

    spark = get_spark("flink_luad_pipeline_spark")
    predictions = run_pipeline(
        spark,
        args.def_file,
        # reference: path.replace("%s%", currentTimeMillis) PipeLine.scala:36
        output_token=str(int(time.time() * 1000)),
        als_blocks=args.als_blocks,
    )
    for row in predictions.orderBy("sample").collect():
        print(f"{row.sample}\t{row.prediction}")  # S4 print sink
    return 0


if __name__ == "__main__":
    sys.exit(main())
