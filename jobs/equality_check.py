"""Per-turn equality at scale: Spark routes vs the pure-Python oracle.

Runs the full extraction over a (large) transcript corpus through BOTH
physical routes and the reference-semantics oracle, comparing
order-insensitive digests over every output field — the evidence behind
BASELINE.md's "Per-turn equality at scale" table. Usage::

    python jobs/equality_check.py --corpus <transcripts_parquet_dir>

Digest = sum over rows of int(md5(canonical-row)[:15 hex], 16) plus the
row count; canonical row = US-joined (conv_id, chunk_idx, turn_idx,
chunk_type, text, char_count, block_count, json(block_indices)).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def spark_digest(df):
    import pyspark.sql.functions as F
    canon = F.md5(F.concat_ws(
        "\x1f", F.col("conv_id"), F.col("chunk_idx"), F.col("turn_idx"),
        F.col("chunk_type"), F.coalesce(F.col("text"), F.lit("\x00")),
        F.col("char_count"), F.col("block_count"),
        F.to_json("block_indices")))
    h = F.conv(F.substring(canon, 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.sum(h).alias("s"), F.count("*").alias("n")).collect()[0]
    return int(r.s), int(r.n)


def oracle_digest(corpus: str, cfg) -> tuple[int, int]:
    import pyarrow.dataset as ds

    from pdf_parser_spark.core.oracle import extract_conversation

    rows = (ds.dataset(corpus)
            .to_table(columns=["conv_id", "turn_idx", "text", "tool"])
            .to_pylist())
    rows.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
    total = n = 0

    def flush(pending):
        nonlocal total, n
        for c in extract_conversation(pending, cfg):
            canon = "\x1f".join([
                c["conv_id"], str(c["chunk_idx"]), str(c["turn_idx"]),
                c["chunk_type"],
                c["text"] if c["text"] is not None else "\x00",
                str(c["char_count"]), str(c["block_count"]),
                json.dumps(c["block_indices"], separators=(",", ":"))])
            total += int(hashlib.md5(canon.encode()).hexdigest()[:15], 16)
            n += 1

    pending: list[dict] = []
    for r in rows:
        if pending and r["conv_id"] != pending[-1]["conv_id"]:
            flush(pending)
            pending = []
        pending.append(r)
    if pending:
        flush(pending)
    return total, n


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--skip-oracle", action="store_true",
                    help="only cross-check the two Spark routes (the "
                         "oracle pass is single-threaded Python)")
    args = ap.parse_args()

    from pdf_parser_spark.config import CLEANING_CONFIG, DEFAULT_CONFIG
    from pdf_parser_spark.operators.merge import (extract_chunks,
                                                  extract_chunks_bucketed)
    from pdf_parser_spark.session import build_session

    # bench.py's split sizing (1 MB, where production ships 128 MB), so a
    # local corpus of a few files still splits into many tasks
    spark = build_session(
        "equality_check", cores=os.cpu_count(),
        shuffle_partitions=os.cpu_count(), extra_conf={
            "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
            "spark.driver.memory": "16g"})
    ok = True
    src = spark.read.parquet(args.corpus)
    for cfg, name in ((DEFAULT_CONFIG, "default"),
                      (CLEANING_CONFIG, "cleaning")):
        t0 = time.monotonic()
        d_win = spark_digest(extract_chunks(src, cfg))
        d_bck = spark_digest(extract_chunks_bucketed(src, cfg))
        same = d_win == d_bck
        ok &= same
        print(json.dumps({"check": f"windowed_vs_bucketed_{name}",
                          "equal": same, "chunks": d_win[1],
                          "sec": round(time.monotonic() - t0, 1)}))
    if not args.skip_oracle:
        t0 = time.monotonic()
        d_oracle = oracle_digest(args.corpus, DEFAULT_CONFIG)
        d_win = spark_digest(extract_chunks(src, DEFAULT_CONFIG))
        same = d_win == d_oracle
        ok &= same
        print(json.dumps({"check": "spark_vs_oracle_default",
                          "equal": same, "chunks": d_oracle[1],
                          "sec": round(time.monotonic() - t0, 1)}))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
