"""CLI parity with log-synth's Synth.java / Main.java.

Reference usage (Synth.java:73):
    [ -count <number>G|M|K ] -schema schema-file
    [-format JSON|TSV|CSV|XML ] [-threads n] [-output dir]

Ours::

    python -m nifi_datasynthesizer_spark \
        --schema schema.json --count 1M --format json --output out/

- ``--count`` accepts the reference's G/M/K suffixes.
- ``--format``: json | csv | tsv | parquet | orc | avro  (XML has no
  Spark writer; the reference's TSV is csv with a tab separator; avro
  uses spark-avro when on the classpath, else the avro_io pure-Python
  container encoder).
- ``--threads`` maps to local[] parallelism (on a cluster, submit with
  spark-submit and the flag is ignored in favor of the cluster's
  executors — generation parallelism follows partitions either way).
- with no ``--output``, prints ``--show`` rows to stdout (the
  quick-look mode Synth.java lacks but NiFi's provenance view plays).
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_count(s: str) -> int:
    s = s.strip().upper()
    mult = 1
    if s and s[-1] in "KMG":
        mult = {"K": 1_000, "M": 1_000_000, "G": 1_000_000_000}[s[-1]]
        s = s[:-1]
    n = int(s) * mult
    if n < 1:
        raise argparse.ArgumentTypeError(f"count must be >= 1, got {n}")
    return n


def _parse_threads(s: str) -> int:
    n = int(s)
    if n < 1:
        raise argparse.ArgumentTypeError(f"threads must be >= 1, got {n}")
    return n


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m nifi_datasynthesizer_spark",
        description="Generate synthetic records from a log-synth schema "
                    "(Synth.java CLI parity, Spark execution)")
    ap.add_argument("--schema", required=True,
                    help="log-synth schema JSON file")
    ap.add_argument("--count", type=_parse_count, default=1000,
                    help="row count, K/M/G suffixes accepted (default 1K)")
    ap.add_argument("--format", default="json",
                    choices=["json", "csv", "tsv", "parquet", "orc",
                             "avro"])
    ap.add_argument("--output", default=None,
                    help="output directory (omit to print --show rows)")
    ap.add_argument("--threads", type=_parse_threads, default=None,
                    help="local[] parallelism (default: all cores)")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--avro-codec", default="null",
                    choices=["null", "deflate"],
                    help="container codec for --format avro on the "
                         "pure-Python writer path")
    ap.add_argument("--show", type=int, default=20,
                    help="rows to print when no --output is given")
    args = ap.parse_args(argv)

    with open(args.schema) as fh:
        schema = json.load(fh)
    n = args.count

    from . import get_spark, io as nio, synthesize
    master = (f"local[{args.threads}]"
              if args.threads is not None else None)
    spark = get_spark(app="synth-cli", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    df = synthesize(spark, schema, n, seed=args.seed)
    if args.output is None:
        df.show(args.show, truncate=False)
    elif args.format == "tsv":
        # reference TSV = csv with a tab separator
        d = df
        d.write.mode("overwrite").option("sep", "\t") \
            .option("header", "true").csv(args.output)
    elif args.format == "avro" and not nio._has_avro(spark):
        # no spark-avro DataSource on the classpath: the frame goes
        # through the spec-compliant pure-Python container encoder
        # (avro_io, nested columns included; cross-validated against
        # Java avro in tests)
        from . import avro_io as av
        av.write_avro(df, args.output, codec=args.avro_codec)
    else:
        nio.write(df, args.output, fmt=args.format)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
