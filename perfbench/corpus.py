"""Seeded transcript corpora, generated once per (size, seed) and cached.

A corpus holds exactly ``n_turns`` turns: the rows of ``sources.synth.
generate_transcripts_distributed(spark, n_convs, seed)`` (zipf
conversation lengths) for as many conversations as fit, the last one cut
to the turns left. Fixing the turn count, not the conversation count,
keeps every seed's input the same size, so a change of seed changes
which conversations a run sees but not how much work it does.
Conversation ``c`` comes from the generator's per-conversation routine
with the same ``Random(f"{seed}:{c}")`` and the same id. The
distributed generator only fans that routine out over Spark tasks. Here
it runs on the driver, before the measuring process starts its JVM:

- Generating through Spark costs a separate JVM, about 19 s per corpus
  on a 4-vCPU host, against about 1 s here.
- Generating in the measuring process's JVM would warm it, and
  ``setup_s`` would then depend on whether the cache was hit.

Conversations go round-robin into ``FILES`` parquet files, as the
generator's ``repartition`` spreads them. Next to the parquet the cache
keeps ``meta.json``: every conversation's turn count and oracle chunk
count (for the lookup checks and the turns/s rates), and the
pure-Python oracle digest of the whole corpus (for the backfill output
checks). All of it is computed here, outside any timing.
"""

from __future__ import annotations

import json
import os
import random
import shutil

FILES = 8
MAX_TURNS = 256  # generate_transcripts_distributed's default


def _schema():
    import pyarrow as pa

    # the distributed generator's DDL. Explicit, so that a small file whose
    # ``tool`` column is all NULL is not written as another type. The
    # timestamps are microseconds (Spark rejects TIMESTAMP(NANOS)) and
    # UTC-adjusted, so Spark reads them as ``timestamp``, as it reads the
    # generator's output.
    return pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                      ("role", pa.string()), ("text", pa.string()),
                      ("tool", pa.string()),
                      ("ts", pa.timestamp("us", tz="UTC"))])


def conv_id(seed: int, c: int) -> str:
    return f"conv_{seed}d_{c:08d}"


def ensure_corpus(work: str, n_turns: int, seed: int) -> tuple[str, dict]:
    """(corpus dir, meta), generating the corpus on a cache miss."""
    final = os.path.join(work, "cache", f"corpus-t{n_turns}-s{seed}")
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        _generate(tmp, n_turns, seed)
        try:
            os.replace(tmp, final)
        except OSError:  # another run filled the cache first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta_path) as fh:
        return final, json.load(fh)


def _generate(out: str, n_turns: int, seed: int) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.equality_check import oracle_digest
    from pdf_parser_spark.config import DEFAULT_CONFIG
    from pdf_parser_spark.core.oracle import extract_conversation
    from pdf_parser_spark.sources.synth import _conv_rows

    SCHEMA = _schema()
    path = os.path.join(out, "transcripts.parquet")
    os.makedirs(path)
    per_file: list[list[dict]] = [[] for _ in range(FILES)]
    convs = {}
    left, c = n_turns, 0
    while left:
        rows = _conv_rows(conv_id(seed, c), random.Random(f"{seed}:{c}"),
                          c, MAX_TURNS)[:left]
        left -= len(rows)
        per_file[c % FILES].extend(rows)
        chunks = extract_conversation(rows, DEFAULT_CONFIG)
        convs[conv_id(seed, c)] = [len(rows), len(chunks)]
        c += 1
    for i, rows in enumerate(per_file):
        df = pd.DataFrame(rows, columns=SCHEMA.names)
        df["ts"] = df["ts"].dt.tz_localize("UTC")
        pq.write_table(pa.Table.from_pandas(df, schema=SCHEMA,
                                            preserve_index=False),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    digest, n_chunks = oracle_digest(path, DEFAULT_CONFIG)
    meta = {
        "n_convs": len(convs), "seed": seed, "turns": n_turns,
        "chunks": n_chunks,
        "bytes": sum(os.path.getsize(os.path.join(path, f))
                     for f in os.listdir(path)),
        "oracle_digest": [str(digest), n_chunks],
        "convs": convs,
    }
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh)
