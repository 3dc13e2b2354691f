"""Copy-on-write parquet table: snapshots, MERGE/upsert, file pruning.

The one Iceberg capability the rest of the repo still assumed rather
than owned: MUTATING a huge table cheaply. `sources/stats_store.py`
rewrites its whole (small) table per version — right for a vocabulary,
wrong for data: applying a 0.1 % CDC batch to a 100 TB corpus must not
rewrite 100 TB. This module is the Iceberg v2 copy-on-write shape
rebuilt on plain parquet:

- a table is an immutable set of data files named by a ``manifest.json``
  (version -> file list + applied-batch ledger); readers load exactly
  the listed files, so writers never race them;
- ``merge_into`` applies an (op, key, row) change batch by REWRITING
  ONLY AFFECTED FILES: per-file key min/max bounds, cached in the
  manifest, are range-matched against the batch's keys, and only
  intersecting files are re-read; survivors of those files anti-join
  the batch keys, upserts append — every untouched file is carried
  into the new snapshot BY NAME, zero bytes moved;
- every writer (``create_table``, ``merge_into``, ``append_rows``,
  ``compact_table``, ``rewrite_masked_files``) records its new files'
  key, column and bloom stats in ONE driver-side footer pass
  (``_register_new_files``: one footer open per new file, no Spark
  job); ``file_key_bounds``' distributed footer job (pyarrow over a
  parallelized file list) is only the reader fallback for files whose
  stats the manifest does not cache;
- ``merge_into(..., strategy="mor")`` is the MERGE-ON-READ twin
  (Iceberg v2 equality deletes): the commit rewrites NOTHING — batch
  keys land in a tiny delete file ``(key, __seq)``, upserts append as
  new data files, and every reader masks rows whose key carries a
  delete with a HIGHER sequence than the row's own file (so a
  re-inserted key stays live). Writes cost O(batch) regardless of how
  many files the keys touch — the right trade for high-frequency CDC —
  at the price of one key-join per read until ``compact_table`` (or the
  targeted ``rewrite_masked_files``) purges the masks. Both the batch
  ``table_changes`` and the ``cow_changes`` stream replay MOR commits
  (masked rows are read out of bounds-pruned carried files);
- commit is manifest-last (tmp file + ``os.replace``), so a crash
  mid-write leaves the previous snapshot intact and fully readable; an
  already-applied ``batch_id`` is a no-op (exactly-once under
  foreachBatch retries, same ledger contract as the stats store);
- every committed version stays on disk until ``vacuum`` — time-travel
  reads (``read_table(..., version=K)``) are free;
- ``compact_table`` folds small files into ~target_mb files as a NEW
  snapshot (rows unchanged) — the safe rendition of
  ``sources/compact.py``'s dir-swap discipline.

Reference analog: none (the reference mutates an in-process dict,
pdf_parser.py keeps everything in memory); this is the operate-at-scale
tier the 10^12-turn target implies, and the honest stand-in for the
environment-blocked `iceberg-spark-runtime` jar (the environment-gate log
in BASELINE.md documents the attempt) — same contracts, measured locally.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "manifest.json"
OPS = ("upsert", "delete")


# --- manifest ---------------------------------------------------------------

def _manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, _MANIFEST)


def read_manifest(table_dir: str) -> dict:
    p = _manifest_path(table_dir)
    if not os.path.exists(p):
        raise ValueError(f"{table_dir} holds no cow table (no {_MANIFEST})")
    with open(p) as fh:
        return json.load(fh)


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between this writer's manifest read and
    its commit. The losing writer's data files are unreferenced orphans
    (harmless; ``remove_orphan_files`` reclaims them) — re-read and
    retry the operation, Iceberg's optimistic-concurrency shape."""


def _seq(m: dict) -> int:
    """The manifest's commit counter. Pre-branch manifests never wrote
    one; their every commit advanced ``version``, so ``version`` IS the
    counter for them."""
    return m.get("commit_seq", m["version"])


def _commit(table_dir: str, manifest: dict,
            expected_seq: int | None = None) -> None:
    """Manifest-last atomic commit: data files are fully written before
    this runs; ``os.replace`` is atomic on POSIX, so readers see the old
    complete manifest or the new complete one, never a torn write.

    ``expected_seq``: the manifest commit counter (``_seq``) this
    writer BASED its work on — if the on-disk manifest has moved past
    it, raise ConcurrentCommitError instead of silently overwriting the
    other writer's commit (lost update). The counter bumps on EVERY
    commit — ref moves and branch writes included — so two writers
    racing on different branches (where main's ``version`` never moves)
    are still detected. This is detection, not a lock: on a plain
    filesystem the check-then-replace window is not atomic, so the
    contract is single COORDINATOR per table (one streaming query,
    one maintenance job) with racing writers DETECTED, same trust model
    as Iceberg on HadoopCatalog without an atomic-swap catalog."""
    if expected_seq is not None:
        p = _manifest_path(table_dir)
        if os.path.exists(p):
            with open(p) as fh:
                on_disk = _seq(json.load(fh))
            if on_disk != expected_seq:
                raise ConcurrentCommitError(
                    f"table advanced commit {expected_seq} -> {on_disk} "
                    "since this writer read it; retry on the new "
                    "snapshot")
    manifest["commit_seq"] = (_seq(manifest) if expected_seq is None
                              else expected_seq) + 1
    # stamp commit time on snapshots that don't carry one yet — every
    # writer funnels through here, so this is the single point (the
    # basis for age-based expiry, Iceberg's expire_snapshots(older_than))
    now = time.time()
    for snap in manifest.get("snapshots", {}).values():
        snap.setdefault("ts", now)
    tmp = _manifest_path(table_dir) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(table_dir))


def _next_snapshot_id(m: dict) -> int:
    """Allocate a fresh snapshot id: monotonic across main AND branch
    commits (they share the snapshot namespace), never reused even
    after a branch drop or vacuum removed the numerically-largest
    snapshot (``last_snapshot_id`` remembers the high-water mark)."""
    v = 1 + max(m.get("last_snapshot_id", 0),
                *(int(k) for k in m["snapshots"]))
    m["last_snapshot_id"] = v
    return v


def _head(m: dict, branch: str | None) -> int:
    """Resolve a write target: main's head, or the branch's."""
    if branch is None:
        return m["version"]
    b = m.get("branches", {})
    if branch not in b:
        raise ValueError(f"branch {branch!r} not in table (have: "
                         f"{sorted(b)}); create_branch first")
    return b[branch]["head"]


def _advance(m: dict, branch: str | None, v: int) -> None:
    if branch is None:
        m["version"] = v
    else:
        m["branches"][branch]["head"] = v


def _ancestry(m: dict, v: int) -> list[int]:
    """The parent chain from snapshot ``v`` back to the oldest
    still-recorded ancestor (newest first). Pre-branch snapshots carry
    no ``parent`` field; for them the chain is the v-1 walk those
    manifests actually performed."""
    chain = []
    cur: int | None = v
    while cur is not None and str(cur) in m["snapshots"]:
        chain.append(cur)
        snap = m["snapshots"][str(cur)]
        cur = snap.get("parent", cur - 1 if cur > 1 else None)
    return chain


def _write_data_files(df: DataFrame, table_dir: str, tag: str) -> list[str]:
    """Write ``df`` as immutable data files under data/, uniquely named
    (snapshots share the directory, so names must never collide), and
    return their table-relative paths."""
    staging = os.path.join(table_dir, f"_staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    data_dir = os.path.join(table_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    rels = []
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        new = f"{tag}-{uuid.uuid4().hex}-{name}"
        os.replace(os.path.join(staging, name),
                   os.path.join(data_dir, new))
        rels.append(f"data/{new}")
    shutil.rmtree(staging)
    return rels


# --- create / read ----------------------------------------------------------

def create_table(spark: SparkSession, df: DataFrame, table_dir: str,
                 key_col: str, *, extra: dict | None = None,
                 stats_cols: list[str] | None = None,
                 bloom_cols: list[str] | None = None) -> dict:
    """Snapshot v1 from ``df``. ``key_col`` is the merge key; NULL keys
    (a NULL merge key can never match and would silently survive every
    delete) and duplicate keys are rejected. ``extra``: caller fields
    merged into the SAME manifest commit (e.g. maintenance's
    src_version) — an init is never split across two commits.

    ``df`` runs ONCE: its plan (often an extraction or an embedding
    UDF) is written first, then one aggregate over the key column of
    the WRITTEN files checks it. A rejected input leaves no manifest
    and no data file (and no table directory, if this call made it).
    Key, column and bloom stats of the new files are recorded on the
    driver by ``_register_new_files``, like every other writer; a
    zero-row input commits a v1 with no files that reads as an empty
    table of ``df``'s schema."""
    if os.path.exists(_manifest_path(table_dir)):
        raise ValueError(f"{table_dir} already holds a cow table")
    reserved = {"key_col", "version", "applied", "schema", "snapshots",
                "stats", "dropped", "seq", "stats_cols", "colstats",
                "bloom_cols", "bloomstats", "refs", "branches",
                "commit_seq", "last_snapshot_id", "constraints"}
    if extra and reserved & set(extra):
        raise ValueError(f"extra fields clash with manifest fields: "
                         f"{sorted(reserved & set(extra))}")
    df.select(key_col)  # an unknown key column fails here, before writing
    created = not os.path.exists(table_dir)
    os.makedirs(table_dir, exist_ok=True)
    files: list[str] = []
    try:
        files = _write_data_files(df, table_dir, "v1")
        if files:
            probe = (spark.read.schema(df.schema)
                     .parquet(*[os.path.join(table_dir, f) for f in files])
                     .agg(F.count(F.when(F.col(key_col).isNull(), True))
                          .alias("null_keys"),
                          F.count(F.lit(1)).alias("n"),
                          F.countDistinct(key_col).alias("n_keys"))
                     .collect()[0])
            if probe["null_keys"]:
                raise ValueError(
                    f"NULL {key_col} rows cannot be merge targets")
            if probe["n_keys"] < probe["n"]:
                raise ValueError(f"duplicate {key_col} values in the "
                                 "initial data — a merge key identifies "
                                 "one row")
        manifest = {"key_col": key_col, "version": 1, "applied": [],
                    "commit_seq": 0, "last_snapshot_id": 1,
                    "schema": df.schema.json(),
                    **({"stats_cols": list(stats_cols)}
                       if stats_cols else {}),
                    **({"bloom_cols": list(bloom_cols)}
                       if bloom_cols else {}),
                    **(extra or {})}
        _register_new_files(manifest, table_dir, files, key_col)
        manifest["seq"] = {f: 1 for f in files}
        manifest["snapshots"] = {"1": {"files": files,
                                       "schema": df.schema.json()}}
        _commit(table_dir, manifest)
    except BaseException:
        if created:
            shutil.rmtree(table_dir, ignore_errors=True)
        else:
            for f in files:
                p = os.path.join(table_dir, f)
                if os.path.exists(p):
                    os.remove(p)
        raise
    return manifest


def read_table(spark: SparkSession, table_dir: str,
               version: int | str | None = None) -> DataFrame:
    """The named snapshot (current by default) — exactly the manifest's
    file list, so concurrent writers/compactions never tear a read.
    ``version`` may be a TAG name (``create_tag``): Iceberg's ref shape
    — the read resolves to whatever version the tag pins."""
    m = read_manifest(table_dir)
    if isinstance(version, str):
        refs = m.get("refs", {})
        branches = m.get("branches", {})
        if version in refs:
            version = refs[version]
        elif version in branches:
            version = branches[version]["head"]
        else:
            raise ValueError(
                f"ref {version!r} not in table (tags: {sorted(refs)}, "
                f"branches: {sorted(branches)})")
    v = m["version"] if version is None else version
    snap = m["snapshots"].get(str(v))
    if snap is None:
        raise ValueError(f"version {v} not in table (have: "
                         f"{sorted(m['snapshots'])})")
    if not snap["files"]:
        # An empty snapshot is legitimate (a merge can delete every row);
        # the schema comes from the manifest, never from some other
        # snapshot's files (they may have been vacuumed).
        from pyspark.sql.types import StructType
        if "schema" in m:
            schema = StructType.fromJson(json.loads(m["schema"]))
        else:  # pre-schema manifests: any still-listed file will do
            for other in m["snapshots"].values():
                if other["files"]:
                    schema = spark.read.parquet(
                        os.path.join(table_dir, other["files"][0])).schema
                    break
            else:
                raise ValueError(
                    "empty snapshot and no schema recorded in manifest")
        return spark.createDataFrame([], schema)
    return _masked_read(spark, m, table_dir, snap["files"],
                        _delete_entries(snap))


def _delete_entries(snap: dict) -> list[dict]:
    return snap.get("deletes") or []


def _file_seq(manifest: dict, rel: str) -> int:
    """The commit version at which a data file was added; files written
    before sequence tracking (or by pre-MOR code) default to 0 — they
    predate every delete file, so 'masked by any delete' is correct."""
    return int(manifest.get("seq", {}).get(rel, 0))


def _masked_read(spark: SparkSession, manifest: dict, table_dir: str,
                 files: list[str], deletes: list[dict],
                 schema_json: str | None = None) -> DataFrame:
    """LIVE rows of the listed data files under the given equality-
    delete set: a row survives unless some delete file holds its key
    with a sequence GREATER than the row's file sequence (a delete at
    seq s applies only to data written before s — re-inserts stay
    live). One read of all delete files + one key-join; the per-file
    sequence attaches via a broadcast basename→seq map, so the data
    scan itself stays a plain pruned parquet read."""
    df = _read_files(spark, manifest, table_dir, files, schema_json)
    if not deletes:
        return df
    cols = df.columns
    key = manifest["key_col"]
    seq_map = [(os.path.basename(f), _file_seq(manifest, f))
               for f in files]
    map_df = spark.createDataFrame(seq_map,
                                   "__base string, __file_seq long")
    del_paths = sorted({os.path.join(table_dir, e["file"])
                        for e in deletes})
    del_df = (spark.read.parquet(*del_paths)
              .groupBy(key).agg(F.max("__seq").alias("__del_seq")))
    return (df.withColumn("__base",
                          F.element_at(F.split(F.input_file_name(), "/"),
                                       -1))
            .join(F.broadcast(map_df), "__base", "left")
            .join(del_df, key, "left")
            .where(F.col("__del_seq").isNull()
                   | (F.col("__del_seq")
                      <= F.coalesce("__file_seq", F.lit(0))))
            .select(*cols))


def _read_files(spark: SparkSession, manifest: dict, table_dir: str,
                files: list[str], schema_json: str | None = None
                ) -> DataFrame:
    """Read listed data files through the MANIFEST schema (Iceberg's
    resolution): files written before an add_column lack the new column
    and read as NULL — no file rewrite on schema evolution, no
    mergeSchema scan. ``schema_json`` overrides (a historical
    snapshot's commit-time schema, for changelog replays)."""
    paths = [os.path.join(table_dir, f) for f in files]
    sj = schema_json or manifest.get("schema")
    if sj:
        from pyspark.sql.types import StructType
        return spark.read.schema(
            StructType.fromJson(json.loads(sj))).parquet(*paths)
    return spark.read.parquet(*paths)


# --- file pruning -----------------------------------------------------------

def _footer_key_bounds(path: str, key_col: str) -> tuple:
    """(kmin, kmax, rows) for one parquet file from its footer only;
    (None, None, rows) when statistics are missing."""
    import pyarrow.parquet as pq
    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i
           for i in range(md.num_columns)}[key_col]
    lo = hi = None
    ok = True
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(idx).statistics
        if st is None or not st.has_min_max:
            ok = False
            break
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return (lo if ok else None, hi if ok else None, md.num_rows)


def _json_safe(v) -> bool:
    return v is None or isinstance(v, (str, int, float, bool))


def _footer_col_bounds(path: str, cols: list[str]) -> dict:
    """{col: (min, max) | None} for the listed columns from ONE footer
    open; None when any row group lacks statistics for that column."""
    import pyarrow.parquet as pq
    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {}
    for c in cols:
        if c not in idx:
            out[c] = None
            continue
        lo = hi = None
        ok = True
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out[c] = (lo, hi) if ok else None
    return out


def _record_col_stats(manifest: dict, files: list[str],
                      table_dir: str) -> None:
    """Cache per-file [min, max] of the manifest's declared
    ``stats_cols`` (Iceberg's manifest column lower/upper bounds for
    secondary columns — sort keys, cluster ids, event time). One footer
    open per new file, at write time; readers then prune files on
    these columns with a dict lookup (``files_for_values``)."""
    cols = manifest.get("stats_cols") or []
    if not cols:
        return
    cs = manifest.setdefault("colstats", {})
    for f in files:
        b = _footer_col_bounds(os.path.join(table_dir, f), cols)
        for c in cols:
            v = b.get(c)
            if v is not None and _json_safe(v[0]) and _json_safe(v[1]) \
                    and v[0] is not None:
                cs.setdefault(c, {})[f] = [v[0], v[1]]


# --- per-file Bloom filters (Iceberg Puffin / parquet bloom analog) ---------
#
# Min/max bounds prune range-shaped columns; they DEGENERATE on
# hash-shaped keys (the embedding store's md5 content_hash spans
# [0..f]* in every file, so every point lookup keeps every file —
# documented in append_rows). A per-file Bloom filter restores
# equality-predicate pruning there: sidecar bitsets under _blooms/
# (manifest carries pointer + params only, like Iceberg's Puffin
# blobs), consulted by files_for_values for point-value reads. No
# false negatives by construction — a miss PROVES absence, so pruning
# never loses rows; false positives only cost an extra file open.

_BLOOM_FPP = 0.01
_BLOOM_DIR = "_blooms"


def _bloom_params(n_values: int, fpp: float = _BLOOM_FPP) -> tuple[int, int]:
    """(m bits, k hashes) for n values at the target false-positive
    rate: m = -n ln p / ln^2 2, k = (m/n) ln 2; m rounded up to bytes."""
    import math
    n = max(1, n_values)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(8, (m + 7) // 8 * 8)
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_hashes(value) -> tuple[int, int]:
    """Two independent 64-bit hashes of the value's canonical bytes
    (Kirsch–Mitzenmacher double hashing: bit_i = (h1 + i*h2) mod m).
    Canonical bytes must match between write and probe: bytes pass
    through, everything else goes via str() — so int 5 and str '5'
    collide, which is fine (bloom hits over-approximate; the residual
    filter is exact and typed)."""
    import hashlib
    b = value if isinstance(value, (bytes, bytearray)) \
        else str(value).encode("utf-8")
    d = hashlib.blake2b(bytes(b), digest_size=16).digest()
    # odd h2: never 0 mod m, so the k probe bits are distinct
    return (int.from_bytes(d[:8], "big"),
            int.from_bytes(d[8:], "big") | 1)


def _bloom_build(values, m: int, k: int) -> bytes:
    bits = bytearray(m // 8)
    for v in values:
        h1, h2 = _bloom_hashes(v)
        for i in range(k):
            p = (h1 + i * h2) % m
            bits[p >> 3] |= 1 << (p & 7)
    return bytes(bits)


def _bloom_probe(bits: bytes, m: int, k: int, h1: int, h2: int) -> bool:
    for i in range(k):
        p = (h1 + i * h2) % m
        if not bits[p >> 3] & (1 << (p & 7)):
            return False
    return True


def _bloom_contains(bits: bytes, m: int, k: int, value) -> bool:
    return _bloom_probe(bits, m, k, *_bloom_hashes(value))


def _record_bloom_stats(manifest: dict, files: list[str],
                        table_dir: str) -> None:
    """Build and persist a per-file Bloom sidecar for each declared
    ``bloom_cols`` column of each NEW file, at write time (one column
    read per file — the writer already opens the file for key bounds).
    Sidecars live under ``_blooms/`` named after the data file; the
    manifest records only {path, m, k, n} (Puffin-style: stats bytes
    never bloat the JSON manifest). Nested/unsupported column types are
    skipped silently — a file with no bloom is always kept by the
    reader (correctness over pruning)."""
    cols = manifest.get("bloom_cols") or []
    if not cols:
        return
    import pyarrow as pa
    import pyarrow.parquet as pq
    bdir = os.path.join(table_dir, _BLOOM_DIR)
    os.makedirs(bdir, exist_ok=True)
    bs = manifest.setdefault("bloomstats", {})
    for f in files:
        path = os.path.join(table_dir, f)
        schema = pq.ParquetFile(path).schema_arrow
        present = [c for c in cols if c in schema.names
                   and not pa.types.is_nested(schema.field(c).type)]
        if not present:
            continue
        tbl = pq.read_table(path, columns=present)
        for c in present:
            vals = [v for v in tbl.column(c).to_pylist() if v is not None]
            if not vals:
                continue
            m, k = _bloom_params(len(vals))
            rel = f"{_BLOOM_DIR}/{os.path.basename(f)}.{c}.bloom"
            with open(os.path.join(table_dir, rel), "wb") as fh:
                fh.write(_bloom_build(vals, m, k))
            bs.setdefault(c, {})[f] = {"path": rel, "m": m, "k": k,
                                       "n": len(vals)}


def _register_new_files(m: dict, table_dir: str, new_files: list[str],
                        key_col: str) -> int:
    """The one post-write bookkeeping pass every writer shares: read
    each new file's footer key bounds, DROP zero-row files (a snapshot
    must not carry empty files with uncacheable bounds), record key
    stats + secondary-column stats + bloom sidecars. Mutates
    ``new_files`` in place (empties removed) and returns rows written."""
    rows_out = 0
    new_bounds = []
    for f in list(new_files):
        p = os.path.join(table_dir, f)
        lo, hi, n = _footer_key_bounds(p, key_col)
        if n == 0:
            os.remove(p)
            new_files.remove(f)
            continue
        new_bounds.append({"file": f, "kmin": lo, "kmax": hi, "rows": n})
        rows_out += n
    _record_stats(m, new_bounds)
    _record_col_stats(m, new_files, table_dir)
    _record_bloom_stats(m, new_files, table_dir)
    return rows_out


def _bloom_keep(manifest: dict, table_dir: str, col: str,
                files: list[str], values: list) -> list[str]:
    """Subset of ``files`` whose bloom for ``col`` admits ANY of the
    point values; files without a recorded bloom are always kept.
    Value hashes are computed ONCE (not per file), so the driver-side
    cost is O(files * values * k) modular probes — ~1M int ops for a
    1000-file table and a CDC-sized probe set."""
    bs = manifest.get("bloomstats", {}).get(col)
    if not bs:
        return list(files)
    hashes = [_bloom_hashes(v) for v in values]
    out = []
    for f in files:
        ent = bs.get(f)
        if ent is None:
            out.append(f)
            continue
        try:
            with open(os.path.join(table_dir, ent["path"]), "rb") as fh:
                bits = fh.read()
        except OSError:  # sidecar lost: keep the file, never drop rows
            out.append(f)
            continue
        if any(_bloom_probe(bits, ent["m"], ent["k"], h1, h2)
               for h1, h2 in hashes):
            out.append(f)
    return out


def files_for_values(spark: SparkSession, table_dir: str, col: str,
                     values: list, version: int | None = None
                     ) -> list[str]:
    """The named snapshot's data files whose cached [min, max] of
    ``col`` intersects any of the point values — file-level partition
    pruning on a SECONDARY column (or the merge key via its own cached
    bounds). Files with no cached bounds for the column are always
    included: correctness over pruning. When the column carries
    per-file Bloom sidecars (``bloom_cols``), the bounds survivors are
    further tested against each file's bloom — the pruning that works
    where bounds degenerate (hash-shaped keys spanning every file's
    range). Both prunings over-approximate; neither loses rows.

    Driver-local: manifest dict lookups + sidecar reads, no cluster
    work (``spark`` is unused; kept for call-site symmetry with the
    read functions this feeds)."""
    m = read_manifest(table_dir)
    v = m["version"] if version is None else version
    files = m["snapshots"][str(v)]["files"]
    cs = m.get("colstats", {}).get(col)
    if cs is None and col == m["key_col"]:
        st = m.get("stats", {})
        cs = {f: [st[f][0], st[f][1]] for f in files if f in st}
    if cs is None:
        kept = list(files)
    else:
        bounds = [{"file": f, "kmin": cs[f][0], "kmax": cs[f][1],
                   "rows": 0}
                  if f in cs else {"file": f, "kmin": None, "kmax": None,
                                   "rows": 0}
                  for f in files]
        kept = files_intersecting_ranges(bounds, [(x, x) for x in values])
    return _bloom_keep(m, table_dir, col, kept, values)


def read_for_values(spark: SparkSession, table_dir: str, col: str,
                    values: list, version: int | None = None,
                    residual: bool = True) -> DataFrame:
    """Snapshot restricted to the files ``files_for_values`` keeps,
    masks applied, plus the exact residual filter on ``col`` (bounds
    and blooms over-approximate). The scan opens only matching files —
    verified by the IVF probe tests. ``residual=False`` skips the
    ``isin`` filter and returns EVERY live row of the kept files: the
    right shape for semi/anti-join callers (a large ``isin`` literal
    bloats the plan; the join is the exact filter) — still a guaranteed
    superset of the rows matching ``values``, because neither pruning
    has false negatives."""
    m = read_manifest(table_dir)
    v = m["version"] if version is None else version
    hit = files_for_values(spark, table_dir, col, values, version=v)
    out = read_files(spark, table_dir, hit, version=v)
    return out.where(F.col(col).isin(values)) if residual else out


def read_files(spark: SparkSession, table_dir: str, files: list[str],
               version: int | None = None) -> DataFrame:
    """Masked read of an explicit file subset of the named snapshot —
    for callers that already ran their own pruning pass
    (files_for_values / files_intersecting_ranges) and must not pay it
    twice. Empty subset reads the snapshot's schema with zero rows."""
    m = read_manifest(table_dir)
    v = m["version"] if version is None else version
    snap = m["snapshots"][str(v)]
    uniq = sorted(set(files))  # a duplicated name must not double rows
    unknown = set(uniq) - set(snap["files"])
    if unknown:
        raise ValueError(f"files not in snapshot v{v}: "
                         f"{sorted(unknown)[:3]}")
    if not uniq:
        return read_table(spark, table_dir, version=v).limit(0)
    return _masked_read(spark, m, table_dir, uniq,
                        _delete_entries(snap))


def _record_stats(manifest: dict, bounds: list[dict]) -> None:
    """Cache per-file key bounds in the manifest (Iceberg's manifest
    column stats): later pruning passes become a dict lookup instead of
    a footer-metadata job. Non-JSON key types (e.g. timestamps) are not
    cached — lookups miss and fall back to footers."""
    stats = manifest.setdefault("stats", {})
    for b in bounds:
        if _json_safe(b["kmin"]) and _json_safe(b["kmax"]) \
                and b["kmin"] is not None:
            stats[b["file"]] = [b["kmin"], b["kmax"], b["rows"]]


def file_key_bounds(spark: SparkSession, table_dir: str,
                    files: list[str], key_col: str,
                    manifest: dict | None = None) -> list[dict]:
    """Per-file (file, kmin, kmax, rows): from the manifest's cached
    stats when present, else from parquet FOOTERS — a distributed
    metadata pass (pyarrow in mapPartitions over the file list; no data
    pages are read). Every writer caches its new files' stats at commit
    (``_register_new_files``), so the footer pass is the READER
    fallback: files whose bounds were not cacheable (non-JSON key
    types, missing statistics) or manifests written before stats were
    cached. NULL bounds (stats missing) mark the file un-prunable."""
    cached = (manifest or {}).get("stats", {})
    out = [{"file": f, "kmin": cached[f][0], "kmax": cached[f][1],
            "rows": cached[f][2]} for f in files if f in cached]
    missing = [f for f in files if f not in cached]
    if not missing:
        return out
    paths = [(f, os.path.join(table_dir, f)) for f in missing]
    files_df = spark.createDataFrame(paths, "rel string, path string") \
                    .repartition(min(len(paths), 64))

    def stats(rows):
        for r in rows:
            lo, hi, n = _footer_key_bounds(r.path, key_col)
            yield {"file": r.rel, "kmin": lo, "kmax": hi, "rows": n}

    return out + list(files_df.rdd.mapPartitions(stats).collect())


def files_intersecting_ranges(bounds: list[dict],
                              ranges: list[tuple]) -> list[str]:
    """Files whose [kmin, kmax] intersects any of the (disjoint, sorted-
    comparable) key ranges. The one interval-pruning routine everything
    uses — point keys are degenerate ranges, conversation prefixes are
    [conv#, conv#\\uffff]. Un-prunable files (no stats) are always
    included — correctness over pruning."""
    import bisect
    rs = sorted(ranges)
    starts = [r[0] for r in rs]
    out = []
    for b in bounds:
        if b["kmin"] is None:
            out.append(b["file"])
            continue
        # candidate: the range with the largest start <= kmax (ranges
        # are disjoint, so earlier ranges end even earlier)
        i = bisect.bisect_right(starts, b["kmax"])
        if i and rs[i - 1][1] >= b["kmin"]:
            out.append(b["file"])
    return out


def _affected_files(bounds: list[dict], keys: list) -> list[str]:
    """Files whose [kmin, kmax] intersects any batch key. The batch key
    list is collected (a CDC batch is driver-sized by definition; the
    TABLE never is)."""
    return files_intersecting_ranges(bounds, [(k, k) for k in keys])


# --- merge ------------------------------------------------------------------

def merge_into(spark: SparkSession, table_dir: str, changes: DataFrame,
               *, op_col: str = "op", batch_id: int | None = None,
               strategy: str = "cow", branch: str | None = None) -> dict:
    """Apply a CDC batch: rows with ``op='upsert'`` replace (by key) or
    insert; ``op='delete'`` removes the key. Returns the merge stats
    dict (also recorded in the manifest): files rewritten vs carried,
    rows in/out.

    The batch must carry every table column plus ``op_col``; duplicate
    keys in one batch are rejected (last-wins needs an ordering the
    caller should make explicit by pre-collapsing the batch).

    ``strategy='cow'`` (default) scale shape: a lookup of the per-file
    key bounds cached in the manifest (a footer job only for files
    without cached stats) + one scan of ONLY the affected files
    (anti-join on key against the broadcast batch) + the batch append.
    Untouched files move by name.

    ``strategy='mor'`` (merge-on-read, Iceberg v2 equality deletes):
    the commit writes the batch keys into ONE tiny delete file and the
    upsert rows as new data files — NOTHING is rewritten, so write cost
    is O(batch) even when the keys scatter across every file of a
    100 TB table. Readers pay one key-join against the accumulated
    delete files until ``compact_table`` purges them. The two
    strategies interleave freely on one table (a cow merge reads its
    affected files through the masks, so masked rows never revive)."""
    if strategy not in ("cow", "mor"):
        raise ValueError(f"strategy must be 'cow' or 'mor', got "
                         f"{strategy!r}")
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    key_col = m["key_col"]
    if strategy == "mor" and "schema" not in m:
        raise ValueError("merge-on-read needs a schema-recording "
                         "manifest (rebuild the table first)")
    if batch_id is not None and batch_id in m["applied"]:
        return {"skipped": True, "batch_id": batch_id,
                "version": m["version"]}

    # One cached pass validates the whole batch. NULL ops must be caught
    # explicitly: `~isin` is NULL (not true) for them under three-valued
    # logic, so a where() test would silently let them through — and a
    # NULL-op row's key would then be deleted without an upsert.
    changes = changes.cache()
    bad_op = F.col(op_col).isNull() | ~F.col(op_col).isin(*OPS)
    probe_cols = [
        F.count(F.when(bad_op, True)).alias("bad_ops"),
        F.min(F.when(bad_op, F.col(op_col))).alias("bad_op_val"),
        F.count(F.when(F.col(key_col).isNull(), True)).alias("null_keys"),
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col(op_col) == "upsert", True))
         .alias("n_upserts"),
        F.countDistinct(key_col).alias("n_keys")]
    # batch columns arriving at a different type get cast to the
    # manifest type before writing; a value the cast cannot convert
    # would silently become NULL — count those per mismatched column so
    # a bad batch raises instead of committing data loss
    cast_checked = []
    if "schema" in m:
        from pyspark.sql.types import StructType
        batch_types = {f.name: f.dataType for f in changes.schema.fields}
        for fld in StructType.fromJson(json.loads(m["schema"])).fields:
            bt = batch_types.get(fld.name)
            if bt is not None and bt != fld.dataType:
                c = F.col(fld.name)
                # try_cast: ANSI mode makes plain cast THROW mid-scan
                # on the first bad value; the probe wants a count
                probe_cols.append(
                    F.count(F.when(c.isNotNull()
                                   & c.try_cast(fld.dataType).isNull(),
                                   True))
                    .alias(f"badcast_{len(cast_checked)}"))
                cast_checked.append((fld.name, str(fld.dataType)))
    # CHECK constraints ride the same single probe pass: a violation is
    # an upsert row where the expression is FALSE (NULL passes — SQL
    # CHECK semantics); delete rows carry NULL payloads by design and
    # are exempt
    cons = list(m.get("constraints", {}).items())
    for i, (_, cexpr) in enumerate(cons):
        probe_cols.append(
            F.count(F.when((F.col(op_col) == "upsert")
                           & ~F.coalesce(F.expr(cexpr).cast("boolean"),
                                         F.lit(True)), True))
            .alias(f"constraint_{i}"))
    probe = changes.agg(*probe_cols).collect()[0]
    try:
        if probe["bad_ops"]:
            raise ValueError(f"unknown {op_col} {probe['bad_op_val']!r} "
                             f"(allowed: {OPS}; NULL rejected)")
        if probe["null_keys"]:
            raise ValueError(f"NULL {key_col} in change batch")
        if probe["n_keys"] < probe["n"]:
            raise ValueError("duplicate keys in one batch — pre-collapse "
                             "to last-wins first")
        for i, (name, want) in enumerate(cast_checked):
            if probe[f"badcast_{i}"]:
                raise ValueError(
                    f"{probe[f'badcast_{i}']} value(s) in batch column "
                    f"{name!r} cannot cast to the table type {want} — "
                    "refusing a merge that would write NULL over data")
        for i, (cname, cexpr) in enumerate(cons):
            if probe[f"constraint_{i}"]:
                raise ValueError(
                    f"CHECK constraint {cname!r} ({cexpr}) violated by "
                    f"{probe[f'constraint_{i}']} upsert row(s) — commit "
                    "refused, table unchanged")

        base = _head(m, branch)
        prev_snap = m["snapshots"][str(base)]
        cur = prev_snap["files"]
        prev_deletes = _delete_entries(prev_snap)
        v = _next_snapshot_id(m)
        tag = f"v{v}"

        upserts = changes.where(F.col(op_col) == "upsert").drop(op_col)
        if "schema" in m:
            # conform the batch to the manifest schema — order AND
            # types: an int batch value for a double column would
            # otherwise write a physically conflicting parquet type
            # that poisons every later schema-enforced read
            from pyspark.sql.types import StructType
            fields = StructType.fromJson(json.loads(m["schema"])).fields
            cols = [f.name for f in fields]
            conform = [F.col(f.name).cast(f.dataType).alias(f.name)
                       for f in fields]
            key_type = {f.name: f.dataType for f in fields}[key_col]
        else:
            cols = read_table(spark, table_dir).columns
            conform = [F.col(c) for c in cols]
            key_type = None

        if strategy == "mor":
            # No pruning pass, no rewrite: the whole table carries by
            # name. The batch lands as (a) new data files for upserts
            # and (b) ONE delete file of (key, __seq=v) covering every
            # batch key — an upsert's delete entry masks its old copy
            # (old file seq < v) but not its new one (file seq = v).
            affected: set[str] = set()
            carried = list(cur)
            # a CDC batch is driver-sized by contract: one data file,
            # not one per shuffle partition of the upsert plan
            new_files = ([] if probe["n_upserts"] == 0 else
                         _write_data_files(upserts.select(*conform)
                                           .coalesce(1),
                                           table_dir, tag))
            del_files, del_rows = [], 0
            if probe["n"]:
                kc = (F.col(key_col).cast(key_type) if key_type
                      else F.col(key_col))
                dk = changes.select(
                    kc.alias(key_col),
                    F.lit(v).cast("long").alias("__seq")).coalesce(1)
                del_files = _write_data_files(dk, table_dir,
                                              f"{tag}-del")
                del_rows = probe["n"]
            batch_rows = probe["n"]
        else:
            keys = [r[0] for r in changes.select(key_col).collect()]
            bounds = (file_key_bounds(spark, table_dir, cur, key_col,
                                      manifest=m)
                      if cur else [])
            affected = set(_affected_files(bounds, keys))
            carried = [f for f in cur if f not in affected]
            if affected:
                # masked read: rows already equality-deleted by an
                # earlier MOR commit must not revive into the rewrite
                tgt = _masked_read(spark, m, table_dir, sorted(affected),
                                   prev_deletes)
                keep = tgt.join(F.broadcast(changes.select(key_col)),
                                on=key_col, how="left_anti")
                # the join moved key_col first — restore the table's
                # column order so every snapshot's files share one
                # physical schema
                merged = keep.select(*cols).unionByName(
                    upserts.select(*conform))
            else:
                merged = upserts.select(*conform)
            # Write once; row count AND key bounds come from the new
            # files' footers (local metadata, one open per new file) —
            # no second scan of the affected files, and the bounds are
            # cached in the manifest so future merges prune without a
            # footer job. Output file count tracks the rewrite width
            # (k files in -> ~k files out; a pure-insert CDC batch -> 1)
            # instead of the upsert plan's shuffle-partition count.
            new_files = _write_data_files(
                merged.coalesce(max(1, len(affected))), table_dir, tag)
            del_files, del_rows = [], 0
            batch_rows = len(keys)
        rows_out = _register_new_files(m, table_dir, new_files, key_col)
        m.setdefault("seq", {}).update({f: v for f in new_files})
    finally:
        changes.unpersist()

    stats = {"version": v, "batch_id": batch_id, "strategy": strategy,
             "files_rewritten": len(affected),
             "files_carried": len(carried),
             "files_added": len(new_files),
             "delete_files_added": len(del_files),
             "batch_rows": batch_rows, "rows_written": rows_out,
             **({"branch": branch} if branch else {})}
    m["snapshots"][str(v)] = {"files": carried + new_files,
                              "parent": base, "merge": stats}
    new_deletes = (prev_deletes
                   + [{"file": f, "seq": v, "rows": del_rows}
                      for f in del_files])
    if new_deletes:
        m["snapshots"][str(v)]["deletes"] = new_deletes
    if "schema" in m:  # schema AS OF this commit (changelog replays
        m["snapshots"][str(v)]["schema"] = m["schema"]  # need history)
    _advance(m, branch, v)
    if batch_id is not None:
        m["applied"].append(batch_id)
    _commit(table_dir, m, expected_seq=seq0)
    return stats


# --- maintenance ------------------------------------------------------------

def compact_table(spark: SparkSession, table_dir: str,
                  target_mb: int = 128,
                  cluster_by: list[str] | None = None) -> dict:
    """Fold the current snapshot's files into ~target_mb files as a new
    snapshot (rows unchanged; old versions stay readable until vacuum).
    File count comes from measured bytes, same math as
    sources/compact.plan_n_files. ``cluster_by``: re-cluster the
    rewrite on these columns (range repartition over (cluster cols,
    key) + local sort) so their
    manifest colstats bounds come back tight — merge commits gradually
    widen them; compaction is where clustering is restored (Iceberg's
    rewrite with sort order). The new files' stats are recorded on the
    driver by ``_register_new_files`` (zero-row files dropped), the
    same pass every writer uses."""
    from pdf_parser_spark.sources.compact import plan_n_files
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    prev_snap = m["snapshots"][str(m["version"])]
    cur = prev_snap["files"]
    total = sum(os.path.getsize(os.path.join(table_dir, f)) for f in cur)
    n_out = plan_n_files(total, target_mb)
    df = read_table(spark, table_dir)  # masked: deletes applied here
    v = _next_snapshot_id(m)
    tag = f"v{v}"
    if cluster_by:
        # RANGE partition, not hash: hashing on the cluster columns
        # caps non-empty output files at their distinct-value count
        # (16 cells -> at most 16 files, 5x over target_mb), while a
        # range layout over (cluster cols, key) honors n_out AND keeps
        # each file's cluster-column bounds tight — the whole point of
        # re-clustering
        cols = list(cluster_by) + ([m["key_col"]]
                                   if m["key_col"] not in cluster_by
                                   else [])
        df = df.repartitionByRange(n_out, *cols) \
               .sortWithinPartitions(*cols)
    else:
        df = df.repartition(n_out)
    files = _write_data_files(df, table_dir, tag)
    _register_new_files(m, table_dir, files, m["key_col"])
    m.setdefault("seq", {}).update({f: v for f in files})
    # compaction is ALSO the merge-on-read reconciler: masks are
    # materialized into the rewrite, so the new snapshot carries no
    # delete files and reads join-free again
    m["snapshots"][str(v)] = {"files": files, "parent": m["version"],
                              "compaction": {
                                  "in_files": len(cur),
                                  "out_files": len(files),
                                  "purged_delete_files":
                                      len(_delete_entries(prev_snap))}}
    if "schema" in m:
        m["snapshots"][str(v)]["schema"] = m["schema"]
    m["version"] = v
    _commit(table_dir, m, expected_seq=seq0)
    return {"version": v, "in_files": len(cur), "out_files": len(files)}


def append_rows(spark: SparkSession, table_dir: str, rows: DataFrame,
                *, batch_id: int | None = None,
                base_version: int | None = None,
                branch: str | None = None) -> dict:
    """Append-only commit (Iceberg's append snapshot): write ``rows``
    as new data files, carry EVERY existing file by name — no pruning
    pass, no rewrite, no delete files. The caller asserts the keys are
    NEW (e.g. the embedding cache's anti-join against the same snapshot
    this commit lands on — a concurrent writer trips the version
    guard); violated uniqueness surfaces as duplicate key rows, exactly
    as an Iceberg append of duplicate data would. The right commit for
    content-addressed stores whose md5-shaped keys scatter across every
    file's range and would defeat the merge path's pruning.

    ``base_version``: the snapshot the CALLER's uniqueness reasoning was
    computed against (e.g. the anti-join's store read). The commit's own
    expected_version guard only covers writers racing AFTER this
    function reads the manifest — a commit landing between the caller's
    probe and this call would pass it and let duplicate keys in
    silently. Pass the probed version to close that window."""
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    if base_version is not None and _head(m, branch) != base_version:
        raise ConcurrentCommitError(
            f"table advanced v{base_version} -> v{_head(m, branch)} "
            "since the caller's probe; its key-novelty reasoning is "
            "stale — re-probe on the new snapshot and retry")
    if batch_id is not None and batch_id in m["applied"]:
        return {"skipped": True, "batch_id": batch_id,
                "version": m["version"]}
    key_col = m["key_col"]
    cons = list(m.get("constraints", {}).items())
    if cons:
        probe = rows.agg(*[
            F.count(F.when(~F.coalesce(F.expr(e).cast("boolean"),
                                       F.lit(True)), True)).alias(f"c{i}")
            for i, (_, e) in enumerate(cons)]).collect()[0]
        for i, (cname, cexpr) in enumerate(cons):
            if probe[f"c{i}"]:
                raise ValueError(
                    f"CHECK constraint {cname!r} ({cexpr}) violated by "
                    f"{probe[f'c{i}']} row(s) — append refused, table "
                    "unchanged")
    if rows.where(F.col(key_col).isNull()).limit(1).count():
        raise ValueError(f"NULL {key_col} rows cannot be appended")
    if "schema" in m:
        from pyspark.sql.types import StructType
        fields = StructType.fromJson(json.loads(m["schema"])).fields
        rows = rows.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                             for f in fields])
    base = _head(m, branch)
    v = _next_snapshot_id(m)
    new_files = _write_data_files(rows, table_dir, f"v{v}")
    rows_out = _register_new_files(m, table_dir, new_files, key_col)
    m.setdefault("seq", {}).update({f: v for f in new_files})
    prev_snap = m["snapshots"][str(base)]
    stats = {"version": v, "batch_id": batch_id, "strategy": "append",
             "files_carried": len(prev_snap["files"]),
             "files_added": len(new_files), "rows_written": rows_out,
             **({"branch": branch} if branch else {})}
    m["snapshots"][str(v)] = {"files": prev_snap["files"] + new_files,
                              "parent": base, "append": stats}
    dels = _delete_entries(prev_snap)
    if dels:
        m["snapshots"][str(v)]["deletes"] = dels
    if "schema" in m:
        m["snapshots"][str(v)]["schema"] = m["schema"]
    _advance(m, branch, v)
    if batch_id is not None:
        m["applied"].append(batch_id)
    _commit(table_dir, m, expected_seq=seq0)
    return stats


def rewrite_masked_files(spark: SparkSession, table_dir: str) -> dict:
    """Targeted merge-on-read reconciliation (Iceberg's
    rewrite_position_delete_files analog): rewrite ONLY the data files
    whose key bounds intersect some delete key — applying the masks —
    and carry every other file by name; the new snapshot holds no
    delete files, so reads are join-free again. Cheaper than
    ``compact_table`` when the masks touch few files; a changelog step
    across this snapshot correctly diffs to zero changes (rewritten
    live rows cancel against their old copies)."""
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    snap = m["snapshots"][str(m["version"])]
    dels = _delete_entries(snap)
    if not dels:
        return {"skipped": True, "version": m["version"]}
    key_col = m["key_col"]
    del_paths = sorted({os.path.join(table_dir, e["file"])
                        for e in dels})
    keys = [r[0] for r in spark.read.parquet(*del_paths)
            .select(key_col).distinct().collect()]
    cur = snap["files"]
    bounds = file_key_bounds(spark, table_dir, cur, key_col, manifest=m)
    affected = sorted(set(_affected_files(bounds, keys)))
    carried = [f for f in cur if f not in set(affected)]
    v = _next_snapshot_id(m)
    new_files: list[str] = []
    rows_out = 0
    if affected:
        live = _masked_read(spark, m, table_dir, affected, dels)
        new_files = _write_data_files(live, table_dir, f"v{v}")
        rows_out += _register_new_files(m, table_dir, new_files,
                                        key_col)
        m.setdefault("seq", {}).update({f: v for f in new_files})
    stats = {"version": v, "files_rewritten": len(affected),
             "files_carried": len(carried),
             "delete_files_purged": len(dels),
             "rows_written": rows_out}
    m["snapshots"][str(v)] = {"files": carried + new_files,
                              "parent": m["version"], "rewrite": stats}
    if "schema" in m:
        m["snapshots"][str(v)]["schema"] = m["schema"]
    m["version"] = v
    _commit(table_dir, m, expected_seq=seq0)
    return stats


def add_column(table_dir: str, name: str, dtype: str) -> dict:
    """Schema evolution, Iceberg-style: a METADATA-ONLY commit. No data
    file is touched; files written before this read the new column as
    NULL (read_table resolves every file against the manifest schema).
    Later merge batches must carry the column. ``dtype`` is a Spark DDL
    type string ('string', 'double', 'array<int>', ...)."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    if "schema" not in m:
        raise ValueError("pre-schema manifest: cannot evolve (rebuild "
                         "the table to record a schema first)")
    schema = StructType.fromJson(json.loads(m["schema"]))
    if name in schema.fieldNames():
        raise ValueError(f"column {name!r} already exists")
    if name in m.get("dropped", []):
        # by-name parquet resolution would resurrect the dropped
        # column's old bytes in unrewritten files (Iceberg prevents this
        # with field IDs; without them, refusing is the only safe move)
        raise ValueError(f"column {name!r} was dropped earlier; re-adding"
                         " it would resurrect old file bytes — use a new"
                         " name")
    schema = StructType(schema.fields
                        + [StructField(name, _parse_datatype_string(dtype))])
    m["schema"] = schema.json()
    _commit(table_dir, m, expected_seq=seq0)
    return {"columns": schema.fieldNames()}


def drop_column(table_dir: str, name: str) -> dict:
    """Metadata-only column drop: data files keep the bytes, every read
    projects them away (manifest-schema resolution ignores file columns
    the schema omits). The merge key cannot be dropped. RENAME is
    deliberately absent: by-name parquet resolution cannot track renames
    without Iceberg's field IDs, and silently re-binding a name to old
    data would be wrong — add + backfill + drop is the honest path."""
    from pyspark.sql.types import StructType
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    if "schema" not in m:
        raise ValueError("pre-schema manifest: cannot evolve (rebuild "
                         "the table to record a schema first)")
    if name == m["key_col"]:
        raise ValueError(f"cannot drop the merge key {name!r}")
    schema = StructType.fromJson(json.loads(m["schema"]))
    if name not in schema.fieldNames():
        raise ValueError(f"column {name!r} does not exist")
    import re as _re
    holders = [c for c, e in m.get("constraints", {}).items()
               if _re.search(rf"\b{_re.escape(name)}\b", e)]
    if holders:  # word-boundary match: conservative, may over-match
        raise ValueError(
            f"column {name!r} is referenced by CHECK constraint(s) "
            f"{holders} — drop_constraint first")
    schema = StructType([f for f in schema.fields if f.name != name])
    m["schema"] = schema.json()
    m.setdefault("dropped", []).append(name)
    _commit(table_dir, m, expected_seq=seq0)
    return {"columns": schema.fieldNames()}


def set_constraint(spark: SparkSession, table_dir: str, name: str,
                   expr: str, validate: bool = True) -> dict:
    """Record a CHECK constraint (Delta's table constraints): a SQL
    boolean expression every future upsert/append row must satisfy
    (FALSE = violation, NULL = pass — SQL CHECK semantics; commit-path
    delete rows are exempt since they carry NULL payloads by design).
    Enforcement rides the merge path's existing single batch-probe
    aggregation, so a constrained table pays no extra job per commit.
    ``validate=True`` (default, Delta's ADD CONSTRAINT behavior) scans
    the CURRENT snapshot first and refuses the constraint if existing
    rows already violate it — a guarantee over history, not just new
    writes. Complements WAP audits: constraints are always-on per-commit
    row invariants; audits are per-refresh batch-level checks."""
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    cur = read_table(spark, table_dir)
    bad = ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
    if validate:
        n = cur.where(bad).count()
        if n:
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) is violated by "
                f"{n} EXISTING row(s) — constraint not added")
    else:
        cur.limit(0).where(bad).collect()  # analysis-check the expr
    m.setdefault("constraints", {})[name] = expr
    _commit(table_dir, m, expected_seq=seq0)
    return {"constraint": name, "expr": expr, "validated": validate}


def drop_constraint(table_dir: str, name: str) -> dict:
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    cons = m.get("constraints", {})
    if name not in cons:
        raise ValueError(f"constraint {name!r} not in table (have: "
                         f"{sorted(cons)})")
    expr = cons.pop(name)
    _commit(table_dir, m, expected_seq=seq0)
    return {"dropped": name, "expr": expr}


def create_tag(table_dir: str, name: str,
               version: int | None = None) -> dict:
    """Pin a snapshot under a name (Iceberg's tag ref): reads resolve
    it (``read_table(..., version='prod')``) and ``vacuum`` NEVER drops
    a tagged version — the operational shape for serving a blessed
    snapshot while maintenance advances the table. Re-tagging an
    existing name moves it (promote-the-new-build in one commit)."""
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    v = m["version"] if version is None else int(version)
    if str(v) not in m["snapshots"]:
        raise ValueError(f"version {v} not in table (have: "
                         f"{sorted(m['snapshots'])})")
    m.setdefault("refs", {})[name] = v
    _commit(table_dir, m, expected_seq=seq0)
    return {"tag": name, "version": v}


def drop_tag(table_dir: str, name: str) -> dict:
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    refs = m.get("refs", {})
    if name not in refs:
        raise ValueError(f"tag {name!r} not in table (have: "
                         f"{sorted(refs)})")
    v = refs.pop(name)
    _commit(table_dir, m, expected_seq=seq0)
    return {"dropped": name, "version": v}


# --- branches (write-audit-publish) ------------------------------------------

def create_branch(table_dir: str, name: str,
                  version: int | None = None) -> dict:
    """A MUTABLE named ref (Iceberg's branch, the other half of the tag
    model): writes targeted at it (``merge_into(..., branch=name)``,
    ``append_rows(..., branch=name)``) advance the branch head while
    main — what ``read_table`` serves by default — never sees them.
    This is the write-audit-publish staging shape: stage a refresh on a
    branch, audit the BRANCH read, and ``fast_forward`` main only on
    green; a red audit drops the branch and main was never touched.

    The branch starts at ``version`` (main's head by default) and
    records it as ``base`` — the publish-is-fast-forward check."""
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    v = m["version"] if version is None else int(version)
    if str(v) not in m["snapshots"]:
        raise ValueError(f"version {v} not in table (have: "
                         f"{sorted(m['snapshots'])})")
    branches = m.setdefault("branches", {})
    if name in branches:
        raise ValueError(f"branch {name!r} already exists "
                         f"(head v{branches[name]['head']}); drop it "
                         "or pick another name")
    if name in m.get("refs", {}):
        raise ValueError(f"{name!r} is already a tag — tags and "
                         "branches share the ref namespace")
    branches[name] = {"head": v, "base": v}
    _commit(table_dir, m, expected_seq=seq0)
    return {"branch": name, "head": v, "base": v}


def _branch_only_snapshots(m: dict, name: str) -> list[int]:
    """Snapshot ids reachable ONLY from this branch's head: the walk
    from head down to (excluding) the branch base. Snapshots at or
    below base are shared history; snapshots on other refs' chains are
    never in this walk because every id is written by exactly one
    commit to exactly one chain."""
    b = m["branches"][name]
    own = []
    for v in _ancestry(m, b["head"]):
        if v == b["base"]:
            break
        own.append(v)
    return own


def drop_branch(table_dir: str, name: str) -> dict:
    """Delete a branch: the ref, its branch-only snapshots, their
    batch-ledger entries (an audit-failed batch must be retryable on
    main — WAP's abort path), and any data/delete files no surviving
    snapshot references. File deletion is manifest-first, same crash
    order as ``vacuum``."""
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    branches = m.get("branches", {})
    if name not in branches:
        raise ValueError(f"branch {name!r} not in table (have: "
                         f"{sorted(branches)})")
    own = _branch_only_snapshots(m, name)
    unapplied = []
    for v in own:
        snap = m["snapshots"][str(v)]
        bid = (snap.get("merge") or snap.get("append") or {}) \
            .get("batch_id")
        if bid is not None and bid in m["applied"]:
            m["applied"].remove(bid)
            unapplied.append(bid)
    del branches[name]
    doomed: set[str] = set()
    doomed_blooms: list[str] = []
    if own:
        live: set[str] = set()
        for k, snap in m["snapshots"].items():
            if int(k) in set(own):
                continue
            live.update(snap["files"])
            live.update(e["file"] for e in _delete_entries(snap))
        for v in own:
            snap = m["snapshots"][str(v)]
            doomed.update(f for f in snap["files"] if f not in live)
            doomed.update(e["file"] for e in _delete_entries(snap)
                          if e["file"] not in live)
            del m["snapshots"][str(v)]
        for f in doomed:
            m.get("stats", {}).pop(f, None)
            m.get("seq", {}).pop(f, None)
            for cs in m.get("colstats", {}).values():
                cs.pop(f, None)
            for bs in m.get("bloomstats", {}).values():
                ent = bs.pop(f, None)
                if ent:
                    doomed_blooms.append(ent["path"])
    _commit(table_dir, m, expected_seq=seq0)
    dropped_files = 0
    for rel in sorted(doomed) + doomed_blooms:
        p = os.path.join(table_dir, rel)
        if os.path.exists(p):
            os.remove(p)
            dropped_files += 1
    return {"dropped": name, "snapshots_removed": sorted(own),
            "files_removed": dropped_files,
            "batch_ids_unapplied": unapplied}


def fast_forward(table_dir: str, name: str, *,
                 drop: bool = False) -> dict:
    """Publish a branch: move main's head to the branch head — a
    METADATA-ONLY commit, the WAP publish step. Requires main to be an
    ANCESTOR of the branch head (a true fast-forward; Iceberg's
    fastForwardBranch makes the same demand): if main advanced past the
    branch base since staging, the branch's rewrites were computed
    against stale files and publishing them would silently drop main's
    newer commits — raise instead; the caller re-stages on a fresh
    branch. ``drop=True`` also retires the ref in the same commit (its
    snapshots are now main history, so only the name goes)."""
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    branches = m.get("branches", {})
    if name not in branches:
        raise ValueError(f"branch {name!r} not in table (have: "
                         f"{sorted(branches)})")
    head = branches[name]["head"]
    if m["version"] not in _ancestry(m, head):
        raise ConcurrentCommitError(
            f"main (v{m['version']}) is not an ancestor of branch "
            f"{name!r} (head v{head}, base v{branches[name]['base']}) "
            "— main advanced since the branch was staged; re-stage on "
            "a fresh branch")
    old = m["version"]
    m["version"] = head
    if drop:
        del branches[name]
    else:
        branches[name]["base"] = head
    _commit(table_dir, m, expected_seq=seq0)
    return {"published": name, "from_version": old, "to_version": head}


def rollback_table(table_dir: str, version: int | str) -> dict:
    """Move main back to an ANCESTOR snapshot (Iceberg's rollback):
    a metadata-only commit — no data moves, no files are deleted.
    ``version`` may be a snapshot id or a tag name. The rolled-over
    snapshots stay in the manifest until vacuum reclaims them (they are
    no longer on main's ancestry, so the next vacuum's keep-window
    passes them by unless a tag or branch holds them); to keep a path
    back, ``create_branch`` at the old head first — publishing that
    branch later is a plain ``fast_forward``.

    The rolled-over snapshots' batch-ledger entries are REMOVED (same
    as ``drop_branch``): rollback says "those merges did not happen",
    so replaying the same CDC batches must land them again — the merge
    path is row-idempotent by key, making the replay safe even if a
    restored branch re-exposes the old snapshots.

    Changelog streams whose offset sits past the rollback point will
    raise ("rewound ref") at their next trigger rather than silently
    emitting history that main no longer claims — restart them from a
    retained version."""
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    if isinstance(version, str):
        refs = m.get("refs", {})
        if version not in refs:
            raise ValueError(f"tag {version!r} not in table (have: "
                             f"{sorted(refs)})")
        version = refs[version]
    chain = _ancestry(m, m["version"])
    if version not in chain:
        raise ValueError(
            f"v{version} is not an ancestor of main (v{m['version']}) "
            "— rollback only rewinds main's own history; to adopt a "
            "branch snapshot use fast_forward")
    if version == m["version"]:
        return {"skipped": True, "version": version}
    rolled_over = chain[:chain.index(version)]
    unapplied = []
    for v in rolled_over:
        snap = m["snapshots"][str(v)]
        bid = (snap.get("merge") or snap.get("append") or {}) \
            .get("batch_id")
        if bid is not None and bid in m["applied"]:
            m["applied"].remove(bid)
            unapplied.append(bid)
    old = m["version"]
    m["version"] = version
    _commit(table_dir, m, expected_seq=seq0)
    return {"from_version": old, "to_version": version,
            "rolled_over": rolled_over, "batch_ids_unapplied": unapplied}


def vacuum(table_dir: str, keep_last: int = 1, *,
           older_than_s: float | None = None) -> dict:
    """Drop snapshots older than the newest ``keep_last`` and delete
    data files no retained snapshot references. Time travel reaches only
    retained versions afterwards. Tagged versions (``create_tag``) are
    always retained — drop the tag to let vacuum reclaim them.

    ``older_than_s``: age-based retention (Iceberg's
    ``expire_snapshots(older_than)``) — additionally KEEP every
    snapshot whose commit stamp is younger than this many seconds, so
    ``vacuum(keep_last=1, older_than_s=7*86400)`` reads "one blessed
    snapshot forever, plus a week of time travel". Snapshots written
    before stamping existed carry no ``ts`` and are treated as
    expirable by age (the count/tag/branch keeps still protect
    them)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    m = read_manifest(table_dir)
    seq0 = _seq(m)
    versions = sorted(int(v) for v in m["snapshots"])
    # "newest keep_last" means newest of MAIN's ancestry — branch
    # snapshots share the id namespace and must not displace main's
    # history out of the keep window
    main_chain = _ancestry(m, m["version"])
    keep = set(main_chain[:keep_last]) or {m["version"]}
    if older_than_s is not None:
        cutoff = time.time() - older_than_s
        keep.update(int(v) for v, snap in m["snapshots"].items()
                    if snap.get("ts", 0) >= cutoff)
    keep.update(m.get("refs", {}).values())  # tags survive vacuum
    for name in m.get("branches", {}):
        # a branch survives vacuum WHOLE (head->base chain + base):
        # dropping an intermediate would break the publish-time
        # ancestry walk; branches are short-lived staging by contract
        b = m["branches"][name]
        keep.update(_branch_only_snapshots(m, name))
        keep.update(v for v in (b["head"], b["base"])
                    if str(v) in m["snapshots"])
    live: set[str] = set()
    for v in keep:
        snap = m["snapshots"][str(v)]
        live.update(snap["files"])
        live.update(e["file"] for e in _delete_entries(snap))
    doomed: set[str] = set()
    for v in versions:
        if v in keep:
            continue
        snap = m["snapshots"][str(v)]
        doomed.update(f for f in snap["files"] if f not in live)
        doomed.update(e["file"] for e in _delete_entries(snap)
                      if e["file"] not in live)
        del m["snapshots"][str(v)]
    doomed_blooms: list[str] = []
    for f in doomed:
        m.get("stats", {}).pop(f, None)
        m.get("seq", {}).pop(f, None)
        for cs in m.get("colstats", {}).values():
            cs.pop(f, None)
        for bs in m.get("bloomstats", {}).values():
            ent = bs.pop(f, None)
            if ent:
                doomed_blooms.append(ent["path"])
    # Manifest-first, deletion-after (Iceberg's expire order): a crash
    # between the two leaves unreferenced files on disk (harmless
    # orphans), never a committed manifest pointing at deleted files.
    _commit(table_dir, m, expected_seq=seq0)
    dropped_files = 0
    for f in doomed:
        p = os.path.join(table_dir, f)
        if os.path.exists(p):
            os.remove(p)
            dropped_files += 1
    for rel in doomed_blooms:  # sidecars die with their data file
        p = os.path.join(table_dir, rel)
        if os.path.exists(p):
            os.remove(p)
    return {"kept_versions": sorted(keep),
            "dropped_files": dropped_files}


def remove_orphan_files(table_dir: str, *,
                        older_than_s: float = 3600.0) -> dict:
    """Reclaim files NO retained snapshot references (Iceberg's
    remove_orphan_files): the debris of losing concurrent writers
    (their data files committed to no manifest), crashed writers'
    ``_staging-*`` dirs, and bloom sidecars whose manifest entry is
    gone. ``vacuum`` cannot reach these — it deletes only files that
    dropped snapshots referenced.

    ``older_than_s``: grace window (mtime-based, Iceberg's heuristic) —
    an IN-FLIGHT writer's files exist before its manifest commit, so
    sweeping young files would race it. The default (1 h) is safe for
    CDC-sized commits; pass a larger window around bulk rebuilds."""
    import time
    m = read_manifest(table_dir)
    referenced: set[str] = set()
    for snap in m["snapshots"].values():
        referenced.update(snap["files"])
        referenced.update(e["file"] for e in _delete_entries(snap))
    for bs in m.get("bloomstats", {}).values():
        referenced.update(ent["path"] for ent in bs.values())
    cutoff = time.time() - older_than_s
    removed_files = 0
    removed_staging = 0
    for sub in ("data", _BLOOM_DIR):
        d = os.path.join(table_dir, sub)
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            rel = f"{sub}/{name}"
            p = os.path.join(d, name)
            if rel in referenced or not os.path.isfile(p):
                continue
            if os.path.getmtime(p) >= cutoff:
                continue
            os.remove(p)
            removed_files += 1
    for name in os.listdir(table_dir):
        p = os.path.join(table_dir, name)
        if name.startswith("_staging-") and os.path.isdir(p) \
                and os.path.getmtime(p) < cutoff:
            shutil.rmtree(p, ignore_errors=True)
            removed_staging += 1
    return {"removed_files": removed_files,
            "removed_staging_dirs": removed_staging}


def table_changes(spark: SparkSession, table_dir: str,
                  from_version: int, to_version: int) -> DataFrame:
    """Changelog read (Delta CDF / Iceberg changelog shape): every row
    change between two committed snapshots, as table rows plus
    ``change_type`` ('insert' | 'delete'; an update is a delete+insert
    pair for the key) and ``commit_version`` (the snapshot that made the
    change).

    Scale shape: per version step, ONLY the files whose names differ
    between the two manifests are read — files carried by name are
    byte-identical and cancel by construction, so a 0.1 % CDC commit on
    a 100 TB table diffs ~0.1 % of it. Row diffs use ``exceptAll``
    (bag semantics; keys are unique per snapshot, and rewritten-but-
    unchanged rows in affected files cancel against their old copies).
    A compaction snapshot renames every file; its diff correctly
    evaluates to zero changes (all rows cancel) at the cost of a full
    read — the same trade Delta's CDF makes without change files.

    Schema evolution: each step's diff runs under THAT COMMIT's schema
    (recorded per snapshot), so a later drop_column cannot rewrite
    history into "no change"; the returned rows are then conformed to
    the CURRENT schema (columns since dropped are projected away,
    columns since added read NULL) so multi-step output unions cleanly.
    """
    m = read_manifest(table_dir)
    for v in (from_version, to_version):
        if str(v) not in m["snapshots"]:
            raise ValueError(f"version {v} not in table (have: "
                             f"{sorted(m['snapshots'])}); vacuumed "
                             "versions have no changelog")
    if from_version >= to_version:
        raise ValueError(f"need from_version < to_version, got "
                         f"{from_version} >= {to_version}")

    def _side(files: list[str], schema_json: str | None,
              dels: list[dict]) -> DataFrame:
        """One diff side: the LIVE rows of the listed files under the
        given delete set and commit-time schema; schema-correct empty
        frame when the side has no files."""
        if files:
            return _masked_read(spark, m, table_dir, sorted(files),
                                dels, schema_json=schema_json)
        if schema_json:
            from pyspark.sql.types import StructType
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json)))
        return read_table(spark, table_dir, version=from_version) \
            .limit(0)

    cur_fields = None
    if "schema" in m:
        from pyspark.sql.types import StructType
        cur_fields = StructType.fromJson(json.loads(m["schema"])).fields

    def _conform(df: DataFrame) -> DataFrame:
        if cur_fields is None:
            return df
        return df.select(
            *[(F.col(f.name) if f.name in df.columns
               else F.lit(None).cast(f.dataType)).alias(f.name)
              for f in cur_fields],
            "change_type", "commit_version")

    # the step sequence is the PARENT chain from to_version down to
    # from_version (pre-branch snapshots fall back to the v-1 walk) —
    # snapshot ids are global across branches, so consecutive ids need
    # not be consecutive commits of this lineage
    chain = _ancestry(m, to_version)
    if from_version not in chain:
        raise ValueError(
            f"version {from_version} is not an ancestor of "
            f"{to_version} (its chain reaches {sorted(chain)}) — "
            "either a vacuumed gap or endpoints on different branches; "
            "changelog is undefined there")
    steps = list(reversed(chain[:chain.index(from_version)]))
    out: DataFrame | None = None
    parent = from_version
    for v in steps:
        prev_snap = m["snapshots"][str(parent)]
        snap_v = m["snapshots"][str(v)]
        parent = v
        old = set(prev_snap["files"])
        new = set(snap_v["files"])
        removed, added = sorted(old - new), sorted(new - old)
        prev_dels = _delete_entries(prev_snap)
        cur_dels = _delete_entries(snap_v)
        prev_del_names = {e["file"] for e in prev_dels}
        new_dels = [e for e in cur_dels if e["file"] not in prev_del_names]
        if not removed and not added and not new_dels:
            continue
        sj = snap_v.get("schema", m.get("schema"))
        if new_dels:
            # merge-on-read commit: the newly-masked rows live in
            # CARRIED files, so a file-name diff cannot see them. Read
            # the previous snapshot's live rows for JUST the delete
            # keys (bounds-pruned to the files those keys can touch —
            # a 0.1 % MOR batch still reads ~0.1 % of the table) as the
            # delete side; added data files are the insert side.
            # Unchanged upserts cancel in the exceptAll, same as cow.
            key = m["key_col"]
            dpaths = [os.path.join(table_dir, e["file"])
                      for e in new_dels]
            del_keys = spark.read.parquet(*dpaths).select(key).distinct()
            keys = [r[0] for r in del_keys.collect()]  # CDC-batch-sized
            bounds = file_key_bounds(spark, table_dir,
                                     prev_snap["files"], key, manifest=m)
            pruned = _affected_files(bounds, keys)
            o = _side(pruned, sj, prev_dels)
            if pruned:
                o = o.join(F.broadcast(del_keys), key, "left_semi") \
                     .select(*o.columns)
            n = _side(added, sj, [])  # new files are live at v
        else:
            # copy-on-write / compaction step: diff the LIVE views of
            # the name-differing files (masked rows were dead before
            # the step and cancel out of both sides)
            o = _side(removed, sj, prev_dels)
            n = _side(added, sj, cur_dels)
        n = n.select(*o.columns)  # exceptAll is positional
        core = (n.exceptAll(o)
                .withColumn("change_type", F.lit("insert"))
                .unionByName(o.exceptAll(n)
                             .withColumn("change_type",
                                         F.lit("delete"))))
        step = _conform(core.withColumn("commit_version", F.lit(v)))
        out = step if out is None else out.unionByName(step)
    if out is None:  # every step carried all files by name
        return _side([], None, []).withColumn("change_type", F.lit("")) \
                                  .withColumn("commit_version", F.lit(0)) \
                                  .limit(0)
    return out


# --- inspection (Iceberg's metadata tables) ----------------------------------

def inspect_snapshots(spark: SparkSession, table_dir: str) -> DataFrame:
    """The table's commit history as a DataFrame — Iceberg's
    ``table.snapshots`` metadata table. One row per retained snapshot:
    operation, parentage, whether it sits on MAIN's current ancestry,
    file counts, and the commit stats' batch id / rows written. Driver-
    built from the manifest, so its cost is O(manifest) — the same
    position as Iceberg reading its own metadata, never a data scan."""
    m = read_manifest(table_dir)
    on_main = set(_ancestry(m, m["version"]))
    rows = []
    for k in sorted(m["snapshots"], key=int):
        snap = m["snapshots"][k]
        op = next((o for o in ("merge", "append", "compaction",
                               "rewrite") if o in snap), "create")
        st = snap.get(op, {}) if op != "create" else {}
        rows.append({
            "version": int(k),
            "parent": snap.get("parent"),
            "operation": op,
            "on_main": int(k) in on_main,
            "is_current": int(k) == m["version"],
            "n_files": len(snap["files"]),
            "n_delete_files": len(_delete_entries(snap)),
            "batch_id": st.get("batch_id"),
            "rows_written": st.get("rows_written"),
            "branch": st.get("branch"),
            "committed_at": snap.get("ts"),
        })
    return spark.createDataFrame(
        rows, "version int, parent int, operation string, "
              "on_main boolean, is_current boolean, n_files int, "
              "n_delete_files int, batch_id long, rows_written long, "
              "branch string, committed_at double")


def inspect_files(spark: SparkSession, table_dir: str,
                  version: int | str | None = None) -> DataFrame:
    """The named snapshot's file inventory — Iceberg's ``table.files``:
    data files with their manifest-cached key bounds, row counts, byte
    sizes, write sequence, and bloom-sidecar presence; merge-on-read
    delete files flagged with ``is_delete``. O(manifest) driver work."""
    m = read_manifest(table_dir)
    if isinstance(version, str):
        refs, branches = m.get("refs", {}), m.get("branches", {})
        ref = version
        version = (refs.get(ref)
                   or branches.get(ref, {}).get("head"))
        if version is None:
            raise ValueError(f"unknown ref {ref!r} (tags: "
                             f"{sorted(refs)}, branches: "
                             f"{sorted(branches)})")
    v = m["version"] if version is None else version
    snap = m["snapshots"].get(str(v))
    if snap is None:
        raise ValueError(f"version {v} not in table (have: "
                         f"{sorted(m['snapshots'])})")
    st = m.get("stats", {})
    seq = m.get("seq", {})
    blooms = {f for bs in m.get("bloomstats", {}).values() for f in bs}
    rows = []
    for f in snap["files"]:
        p = os.path.join(table_dir, f)
        b = st.get(f)
        rows.append({"file": f,
                     "bytes": os.path.getsize(p)
                     if os.path.exists(p) else None,
                     "rows": b[2] if b else None,
                     "key_min": b[0] if b else None,
                     "key_max": b[1] if b else None,
                     "seq": seq.get(f), "has_bloom": f in blooms,
                     "is_delete": False})
    for e in _delete_entries(snap):
        p = os.path.join(table_dir, e["file"])
        rows.append({"file": e["file"],
                     "bytes": os.path.getsize(p)
                     if os.path.exists(p) else None,
                     "rows": e.get("rows"), "key_min": None,
                     "key_max": None, "seq": e["seq"],
                     "has_bloom": False, "is_delete": True})
    return spark.createDataFrame(
        rows, "file string, bytes long, rows long, key_min string, "
              "key_max string, seq int, has_bloom boolean, "
              "is_delete boolean")


def inspect_refs(spark: SparkSession, table_dir: str) -> DataFrame:
    """Every named ref — Iceberg's ``table.refs``: tags (immutable
    pins) and branches (mutable heads with their fork base), plus main
    itself for one-stop orientation."""
    m = read_manifest(table_dir)
    rows = [{"name": "main", "kind": "branch",
             "version": m["version"], "base": None}]
    rows += [{"name": n, "kind": "tag", "version": v, "base": None}
             for n, v in m.get("refs", {}).items()]
    rows += [{"name": n, "kind": "branch", "version": b["head"],
              "base": b["base"]}
             for n, b in m.get("branches", {}).items()]
    return spark.createDataFrame(
        rows, "name string, kind string, version int, base int")
