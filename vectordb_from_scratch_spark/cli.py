"""CLI — parity with the reference's clap interface (SURVEY.md §2.5 S5,
src/main.rs:10-63: insert / search / delete / list / count over a
persistent store directory, `--metric` selection, vector literals parsed
from "1.0,2.0,3.0").

    python -m vectordb_from_scratch_spark --data-dir /tmp/store insert id1 "1.0,2.0"
    python -m vectordb_from_scratch_spark --data-dir /tmp/store search "1.0,2.1" --k 5
    python -m vectordb_from_scratch_spark --data-dir /tmp/store list

The store directory is a parquet snapshot (id, embedding, metadata)
plus a log of the writes past it — the layout of sources/persistence.py,
so the CLI, the server, the batch engine and recovery read the same
bytes. `insert` and `delete` append one fsync'd log entry and launch no
Spark job for the write (every 1000 entries fold into a new snapshot);
every command opens the store as the snapshot plus a replay of that
log. The reference's `serve` command maps to the HTTP layer in
server.py (same 9 endpoints, `--host`/`--port`); the driver contract in
__spark_entry__.py remains the batch analytics surface.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import SparkSession

from .operators.store import VectorStore, VectorNotFound
from .session import build_session
from .sources.persistence import StoreLog, append, open_log


def _session() -> SparkSession:
    # the engine's reference configuration (AQE, Arrow, UTC, scan splits),
    # sized down for CLI point operations
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    return build_session(
        app_name="vectordb_cli",
        master=f"local[{cpus}]",
        shuffle_partitions=8,
    )


def _load(spark: SparkSession, data_dir: str, metric: str) -> VectorStore:
    log = open_log(spark, data_dir)
    return VectorStore(spark, log.frame(), log.dimension, metric)


def _save(log: StoreLog, entries: list[tuple]) -> StoreLog:
    """The durable write of every store command and server publish:
    `entries` as the next log entry (persistence.append). Callers look
    it up on this module at call time, so perfbench's traced serve run
    can time it as its `cli.save` span."""
    return append(log, entries)


def _parse_vec(s: str) -> list[float]:
    try:
        return [float(x.strip()) for x in s.split(",") if x.strip()]
    except ValueError as e:
        raise SystemExit(f"error: bad vector literal {s!r}: {e}")


def _parse_meta(pairs: list[str]) -> dict:
    out = {}
    for p in pairs:
        if "=" not in p:
            raise SystemExit(f"error: metadata must be key=value, got {p!r}")
        k, v = p.split("=", 1)
        out[k] = v
    return out


def run(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    ap = argparse.ArgumentParser(prog="vectordb_from_scratch_spark")
    ap.add_argument(
        "--data-dir",
        help="store directory (parquet snapshot); required for the store "
        "commands, unused by the corpus commands (ingest-jsonl, dedup, fragments)",
    )
    ap.add_argument("--metric", default="euclidean", choices=["euclidean", "cosine", "dot"])
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_ins = sub.add_parser("insert", help="insert/upsert a vector")
    p_ins.add_argument("id")
    p_ins.add_argument("vector", help='comma-separated floats, e.g. "1.0,2.0"')
    p_ins.add_argument("--meta", nargs="*", default=[], help="key=value pairs")

    p_search = sub.add_parser("search", help="k-NN search")
    p_search.add_argument("vector")
    p_search.add_argument("--k", type=int, default=10)

    p_del = sub.add_parser("delete", help="delete by id")
    p_del.add_argument("id")

    sub.add_parser("list", help="list ids")
    sub.add_parser("count", help="row count")

    p_ing = sub.add_parser(
        "ingest-jsonl",
        help="JSONL corpus -> parquet table (single pass, corrupt lines "
        "quarantined to <dest>_corrupt)",
    )
    p_ing.add_argument("src")
    p_ing.add_argument("dest")
    p_ing.add_argument(
        "--schema",
        default="doc_id long, text string, lang string, source string, n_chars long",
        help="DDL schema of the clean columns (pinned — no inference pass)",
    )

    p_dd = sub.add_parser(
        "dedup",
        help="exact-dedup a documents parquet table (normalized-text md5, "
        "min-id representative)",
    )
    p_dd.add_argument("src")
    p_dd.add_argument("dest")
    p_dd.add_argument("--id-col", default="doc_id")
    p_dd.add_argument("--text-col", default="text")

    p_fr = sub.add_parser(
        "fragments",
        help="drop fragment docs: shingle set >= --threshold contained in "
        "a strictly-larger doc (keep the superset; equal copies keep the "
        "smaller id)",
    )
    p_fr.add_argument("src")
    p_fr.add_argument("dest")
    p_fr.add_argument("--threshold", type=float, default=0.9)
    p_fr.add_argument("--id-col", default="doc_id")
    p_fr.add_argument("--text-col", default="text")

    p_serve = sub.add_parser(
        "serve", help="HTTP API server (reference src/main.rs serve command)"
    )
    p_serve.add_argument("--host", default="127.0.0.1")
    p_serve.add_argument("--port", type=int, default=8080)
    p_serve.add_argument(
        "--index", default="exact", choices=["exact", "srp", "ivf_sq8"],
        help="search path: exact FlatIndex scan, SRP-LSH approximate "
        "index (the reference server's HnswIndex analog), or the "
        "quantized IVF-SQ8 index (coarse routing over int8 codes + "
        "exact re-rank)",
    )

    args = ap.parse_args(argv)
    if args.cmd not in ("ingest-jsonl", "dedup", "fragments") and not args.data_dir:
        ap.error(f"--data-dir is required for the {args.cmd!r} command")
    own_session = spark is None
    spark = spark or _session()
    try:
        if args.cmd == "ingest-jsonl":
            from .sources.textio import jsonl_to_table

            n_clean, n_bad = jsonl_to_table(spark, args.src, args.dest, args.schema)
            print(f"ingested {n_clean} rows to {args.dest}"
                  + (f" ({n_bad} corrupt quarantined)" if n_bad else ""))
            return 0
        if args.cmd == "dedup":
            from pyspark.sql import functions as F

            from .operators.dedup import exact_dedup

            docs = spark.read.parquet(args.src)
            n_in = docs.count()
            keep = exact_dedup(docs, text_col=args.text_col, id_col=args.id_col)
            out = docs.join(
                keep.select(F.col("keep_id").alias(args.id_col)), args.id_col, "left_semi"
            )
            out.write.mode("overwrite").parquet(args.dest)
            n_out = spark.read.parquet(args.dest).count()
            print(f"kept {n_out} of {n_in} rows ({n_in - n_out} duplicates dropped)")
            return 0
        if args.cmd == "fragments":
            from pyspark.sql import functions as F

            from .operators.dedup import fragment_report

            docs = spark.read.parquet(args.src)
            n_in = docs.count()
            keep_ids = fragment_report(
                docs, threshold=args.threshold,
                text_col=args.text_col, id_col=args.id_col,
            ).filter(~F.col("is_fragment")).select(args.id_col)
            out = docs.join(keep_ids, args.id_col, "left_semi")
            out.write.mode("overwrite").parquet(args.dest)
            n_out = spark.read.parquet(args.dest).count()
            print(f"kept {n_out} of {n_in} rows "
                  f"({n_in - n_out} fragments dropped)")
            return 0
        if args.cmd == "serve":
            from .server import serve

            serve(spark, data_dir=args.data_dir, host=args.host,
                  port=args.port, metric=args.metric, index=args.index)
            return 0
        log = open_log(spark, args.data_dir)
        store = VectorStore(spark, log.frame(), log.dimension, args.metric)
        if args.cmd == "insert":
            _save(log, store.upsert_entries(
                [(args.id, _parse_vec(args.vector), _parse_meta(args.meta))]))
            print(f"inserted {args.id}")
        elif args.cmd == "search":
            for vid, dist in store.search(_parse_vec(args.vector), k=args.k):
                print(f"{vid} ({dist:.6f})")
        elif args.cmd == "delete":
            try:
                entries = store.delete_entries(args.id, log.tail)
            except VectorNotFound:
                print(f"error: vector {args.id!r} not found", file=sys.stderr)
                return 1
            _save(log, entries)
            print(f"deleted {args.id}")
        elif args.cmd == "list":
            for vid in sorted(store.list_ids()):
                print(vid)
        elif args.cmd == "count":
            print(len(store))
        return 0
    finally:
        if own_session:
            spark.stop()
