"""CLI entry point — the reference's job invocation, Spark-first.

The reference runs as ``sbt "run <input_dir> <output_dir>"``
(``README.md:25-29``, driver ``MapRedWord2Vec.scala:245-284``). The
equivalent here::

    python -m mapreduce_word2vec_spark <input_dir> <output_dir> \
        [--dim 100] [--window 5] [--min-count 1] [--seed 42] \
        [--iterations 1] [--partitions N]

reads every ``.txt`` under ``input_dir``, runs the full pipeline
(word count → Word2Vec → vector join → token id), and writes
``word,token,count,[v1,...,vN]`` lines (sorted, with ``_SUCCESS``)
to ``output_dir`` — the reference's exact output contract
(``README.md:22-23``). ``--partitions N`` is the number of Word2Vec
SGD partitions, the reference's mapper count (e.g. one per input file);
the default is one per core. MLlib averages the partition models after
every iteration, as the reference's reducer does once.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="mapreduce_word2vec_spark",
        description="Word-count + Word2Vec pipeline over a text corpus",
    )
    parser.add_argument("input_dir")
    parser.add_argument("output_dir")
    parser.add_argument("--dim", type=int, default=100)
    parser.add_argument("--window", type=int, default=5)
    parser.add_argument("--min-count", type=int, default=1)
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument("--iterations", type=int, default=1)
    parser.add_argument(
        "--partitions",
        type=int,
        default=None,
        help="Word2Vec SGD partitions, the reference's mapper count; their "
        "models are averaged each iteration (default one per core)",
    )
    args = parser.parse_args(argv)

    from mapreduce_word2vec_spark.functions.tokens import bpe_backend_resolves
    from mapreduce_word2vec_spark.operators.word2vec import (
        embedding_pipeline,
        format_reference_output,
    )
    from mapreduce_word2vec_spark.runtime import ensure_workers_can_import
    from mapreduce_word2vec_spark.session import EngineConfig, get_spark
    from mapreduce_word2vec_spark.sources.writers import write_reference_csv

    config = EngineConfig(
        window_size=args.window,
        layer_size=args.dim,
        min_word_frequency=args.min_count,
        seed=args.seed,
        iterations=args.iterations,
    )
    spark = get_spark(app_name="mapreduce-word2vec-spark-job")
    # Only the token-id pandas UDF runs Python on the workers; without a
    # BPE backend the whole job is JVM expressions and ships nothing.
    if bpe_backend_resolves():
        ensure_workers_can_import(spark)

    t0 = time.perf_counter()
    out = embedding_pipeline(spark, args.input_dir, config, args.partitions)
    write_reference_csv(format_reference_output(out), args.output_dir)
    print(
        f"wrote {args.output_dir} (dim={args.dim}) in {time.perf_counter() - t0:.1f}s",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
