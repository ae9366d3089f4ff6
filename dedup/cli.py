"""spark-submit entrypoint with per-stage commands, mirroring the
reference's Click CLI shape (/root/reference/doppelspeller/cli.py:14-83)
without the dependency (argparse only; nothing to pip-install on executors).

Packaging: ``make dist`` zips the package for ``spark-submit --py-files
dist/dedup.zip dedup/cli.py run ...``; every stage resumes from the
checkpoint catalog, so re-running after a mid-stage kill is the resume
path (north_rule resumability).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="transcript-dedup")
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="run (or resume) the full dedup pipeline")
    run.add_argument("--input", required=True, help="transcripts table path (parquet) or catalog table")
    run.add_argument("--warehouse", required=True, help="stage-table warehouse dir")
    run.add_argument("--run-id", default=None)
    run.add_argument("--master", default=None)

    gen = sub.add_parser("generate", help="write a deterministic synthetic transcripts corpus")
    gen.add_argument("--out", required=True)
    gen.add_argument("--conversations", type=int, default=10000)
    gen.add_argument("--seed", type=int, default=42)

    single = sub.add_parser(
        "closest-single", help="match one title against a truth parquet (reference cli.py:64-83 analog)"
    )
    single.add_argument("--title", required=True)
    single.add_argument("--truth", required=True, help="parquet with (title_id, title)")

    match = sub.add_parser(
        "match-titles",
        help="full matching cascade: queries vs truth -> sorted CSV "
        "(reference generate-predictions analog, cli.py:52-61)",
    )
    match.add_argument("--truth", required=True, help="CSV (company_id|name) or parquet (title_id, title)")
    match.add_argument("--queries", required=True, help="CSV (test_index|name) or parquet (query_id, title)")
    match.add_argument("--out", required=True, help="output CSV directory")
    match.add_argument("--actuals", default=None, help="optional parquet (query_id, expected_title_id) for accuracy")
    match.add_argument("--delimiter", default="|")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from dedup.config import DEFAULT_CONFIG
    from dedup.session import get_spark

    config = DEFAULT_CONFIG
    spark = get_spark("transcript-dedup-cli", master=getattr(args, "master", None), config=config)

    if args.cmd == "generate":
        from dedup.generate import make_corpus

        corpus = make_corpus(n_conversations=args.conversations, seed=args.seed)
        spark.createDataFrame(corpus.transcripts).repartition(
            config.conv_partitions, "conv_id"
        ).write.mode("overwrite").parquet(f"{args.out}/transcripts")
        spark.createDataFrame(corpus.truth_clusters).write.mode("overwrite").parquet(
            f"{args.out}/truth_clusters"
        )
        print(json.dumps({"out": args.out, "conversations": args.conversations}))
        return 0

    if args.cmd == "run":
        from dedup.pipeline import run_pipeline

        transcripts = spark.read.parquet(args.input)
        t0 = time.time()
        report = run_pipeline(
            spark, transcripts, args.warehouse, config=config, run_id=args.run_id
        )
        n_turns = transcripts.count()
        secs = time.time() - t0
        print(
            json.dumps(
                {
                    "run_id": report.run_id,
                    "seconds": round(secs, 2),
                    "turns": n_turns,
                    "turns_per_sec": round(n_turns / secs, 1),
                    "stages": [
                        {"stage": s.table, "rows": s.rows, "resumed": s.resumed}
                        for s in report.stages
                    ],
                }
            )
        )
        return 0

    if args.cmd == "match-titles":
        from dedup.io import (
            read_ground_truth,
            read_test_queries,
            write_predictions_csv,
        )
        from dedup.operators.match import match_titles

        def load(path, reader):
            if path.endswith(".csv") or path.endswith(".csv.gz"):
                return reader(spark, path, delimiter=args.delimiter)
            return spark.read.parquet(path)

        truth = load(args.truth, read_ground_truth)
        queries = load(args.queries, read_test_queries)
        preds = match_titles(queries.select("query_id", "title"), truth, config)
        write_predictions_csv(preds, args.out, args.delimiter)
        result = {"out": args.out, "queries": queries.count()}
        if args.actuals:
            from dedup.operators.evaluate import prediction_accuracy

            acc = prediction_accuracy(preds, spark.read.parquet(args.actuals))
            result["accuracy"] = acc.asDict()
        print(json.dumps(result))
        return 0

    if args.cmd == "closest-single":
        from dedup.operators.match import match_titles

        truth = spark.read.parquet(args.truth)
        queries = spark.createDataFrame([(0, args.title)], "query_id long, title string")
        out = match_titles(queries, truth, config).collect()
        print(json.dumps([r.asDict() for r in out], default=str))
        return 0

    return 1


if __name__ == "__main__":
    sys.exit(main())
