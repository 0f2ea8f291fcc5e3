"""spark-submit entry point (north_rule: "run via spark-submit --py-files").

Package the engine and launch the streaming pipeline on a cluster:

    python -m dataflow_mm_lrt_spark.submit --make-zip /tmp/engine.zip
    spark-submit --py-files /tmp/engine.zip \
        --master <cluster> [--num-executors N ...] \
        -m dataflow_mm_lrt_spark.submit \
        --input /path/transcripts --output /path/out \
        --watermark "10 minutes"

In local mode the same module runs directly:

    python -m dataflow_mm_lrt_spark.submit --input ... --output ...
"""

from __future__ import annotations

import argparse
import os
import zipfile


def make_zip(out_path: str) -> str:
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    base = os.path.dirname(pkg_root)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in files:
                # .parquet: packaged data (goldens/ oracle fixtures)
                if fn.endswith((".py", ".parquet")):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, base))
    return out_path


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--make-zip", metavar="PATH", default=None)
    ap.add_argument("--input", default=None, help="transcript parquet dir")
    ap.add_argument("--output", default=None, help="sink/checkpoint dir")
    ap.add_argument("--watermark", default="10 minutes")
    ap.add_argument("--order-slack-ms", type=int, default=120_000)
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--master", default=None,
                    help="override master (default: from spark-submit/local)")
    args = ap.parse_args(argv)

    if args.make_zip:
        print(make_zip(args.make_zip))
        return

    if not (args.input and args.output):
        ap.error("--input and --output are required (or use --make-zip)")

    from .session import build_session
    from .streaming.run import PipelineConfig, run_pipeline

    spark = build_session(app_name="transcript-cep", master=args.master)
    cfg = PipelineConfig(
        watermark_delay=args.watermark,
        order_slack_ms=args.order_slack_ms,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    sink, _ = run_pipeline(spark, args.input, args.output, cfg)
    total = sum(m["n_rows"] for m in sink.manifests())
    print(f"drained: {total} turns across {len(sink.committed_epochs())} epochs")
    spark.stop()


if __name__ == "__main__":
    main()
