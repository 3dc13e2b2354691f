#!/usr/bin/env python
"""Benchmark harness for pdf_parser_spark.

Default mode (what the driver runs):
    python bench.py
runs the headline query suite at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) and
prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, ...}

Extra keys carried alongside the contract fields: ``turns_per_sec`` (the
north-rule throughput metric over the synthetic transcript corpus) and
``cores``.

Scaling mode (north-rule two-cluster-size evidence; no real cluster in this
sandbox, so the same job runs at two parallelism levels in fresh JVMs)::

    python bench.py --scaling            # default local[4] vs local[16]

runs three back-to-back CPU-pinned (N, 4N) session pairs, prints one JSON
line with the MEDIAN per-pair efficiency
  efficiency = (thr_4N / thr_N) / (4N / N)
and persists it to BENCH_SCALING.json (BASELINE.md documents the method
and why 4 -> 16 is the honest pairing on this 32-core box).

Internal worker mode (used by --scaling; also handy standalone)::

    python bench.py --extract-only --cores 8 --convs 100000
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# headline subset of the driver-contract registry: one per operator family
# (agg, join+topk, star join, window, sessionize, dedup, minhash, vector topk,
# extraction over driver data). Each is timed to full materialization via the
# noop sink (no driver collect, no partial-agg shortcuts).
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "events_window_context",
    "events_sessionize",
    "docs_dup_histogram",
    "docs_minhash_signatures",
    "emb_cosine_topk",
    "extract_documents",
    # round-3 heavy curation/retrieval tier — benched so regressions in
    # the expensive operators are visible in per-round BENCH deltas
    "docs_remove_spans",
    "emb_semantic_dedup",
    "docs_paragraph_dedup",
    "docs_bm25_topk",
    "emb_pq_topk",
    # round-4 additions: the decorrelation pack's scan-pushdown stress and
    # the oracle-checked RAG context assembly
    "q19_disjunctive_revenue",
    "rag_context_topk",
    # round-5 additions (r4 verdict task #5): the lakehouse + streaming
    # tier — each replays its full multi-commit build/maintenance flow
    # per timed invocation (run_headline clears the cached scratch
    # first), so these walls are setup-heavy BY CONSTRUCTION and a
    # regression in the merge/refresh/streaming machinery is visible
    "docs_cow_merge",
    "docs_cow_mor_merge",
    "docs_dup_probe_maintained",
    "docs_stream_near_dedup_admitted",
]

BENCH_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "100000"))
# the scaling run needs a long enough job that per-job fixed costs (~1s:
# planning, stage launch, commit) are noise at the 4N level too
SCALING_CONVS = int(os.environ.get("SPARK_GRAFT_SCALING_CONVS", "400000"))
BENCH_SEED = 7


# The bench's departures from session.build_session's production settings.
# Small local files: force byte-range splits (1 MB, where production ships
# 128 MB) so scans (and the fused mapInPandas extraction stage) use all
# cores with several waves of tasks for load balance — emulates the
# plentiful input splits of the 100 TB design point. Post-shuffle
# partitions are sized so the chunk-index window sort parallelizes instead
# of AQE-coalescing to 2-3 giant sorts.
BENCH_CONF = {
    "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
    "spark.sql.files.openCostInBytes": str(128 * 1024),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
}


def build_spark(cores: int, app: str = "bench"):
    from pdf_parser_spark.session import build_session
    return build_session(app, cores=cores, extra_conf={
        **BENCH_CONF,
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                              "16g")})


def build_spark_cluster(n_executors: int, cores_per_exec: int = 4,
                        app: str = "bench-cluster"):
    """A REAL multi-executor topology: local-cluster spawns one worker JVM
    (+ its own Python workers) per executor, talking to the driver over
    loopback sockets — actual serialization, actual executor-side imports
    (code ships via the --py-files zip), actual inter-JVM shuffle. The
    strongest local rendition of the north rule's "N and 4N executors"."""
    import subprocess as _sp
    import sys as _sys

    from pdf_parser_spark.session import build_session

    # executors import the package from the packaged zip ONLY (rebuilt
    # here only if missing — --scaling-cluster builds it once up front
    # instead of 6x inside CPU-pinned children)
    zip_path = os.path.join(REPO, "dist", "pdf_parser_spark.zip")
    if not os.path.exists(zip_path):
        _sp.run([_sys.executable, os.path.join(REPO, "jobs", "package.py")],
                check=True, capture_output=True)
    spark = build_session(app, cores=n_executors * cores_per_exec, extra_conf={
        **BENCH_CONF,
        "spark.master":
            f"local-cluster[{n_executors},{cores_per_exec},3072]",
        "spark.executor.memory": "2g",
        "spark.submit.pyFiles": zip_path,
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                              "8g")})
    # spark.submit.pyFiles only takes effect when THIS process's JVM is
    # launched by spark-submit; if any prior session already started the
    # JVM (e.g. corpus generation in local mode) the config is inert, so
    # register the zip at runtime too — addPyFile ships it to executors
    # AND prepends it to the driver's sys.path
    spark.sparkContext.addPyFile(zip_path)
    return spark


def _pin_cluster_topology(exec_cores: str, driver_cores: str) -> None:
    """Per-process pinning for local-cluster runs: this Python process and
    its direct JVM child (the driver) onto ``driver_cores``; every deeper
    descendant (worker JVMs -> executor JVMs -> their Python workers) onto
    ``exec_cores``. This is the only scheme that reproduces a real
    cluster's accounting — executors own EXACTLY their cores and the
    driver owns its own — where a whole-tree taskset either crams driver
    overhead into the small level's executor cores (overstates
    efficiency) or hands the small level idle driver cores to free-ride
    on (understates it). Uses ``taskset -a -p`` because
    sched_setaffinity(pid) moves only one thread of an already-running
    JVM."""
    import subprocess as _sp

    def _children(pid: int) -> list[int]:
        out = []
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(p))
        return out

    def _pin(pid: int, cores: str) -> None:
        _sp.run(["taskset", "-a", "-p", "-c", cores, str(pid)],
                capture_output=True)

    def _cmdline(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                return f.read().replace(b"\x00", b" ").decode(
                    "utf-8", "replace")
        except OSError:
            return ""

    # classify by COMMAND LINE, not tree depth (the driver JVM may sit
    # behind a spark-submit/bash wrapper): Worker + executor JVMs and
    # their descendants (python daemons/workers fork later and inherit)
    # go to exec_cores; the bench process and driver JVM to driver_cores
    me = os.getpid()
    _pin(me, driver_cores)
    exec_markers = ("CoarseGrainedExecutorBackend", "deploy.worker.Worker")
    stack = [(c, False) for c in _children(me)]
    while stack:
        p, in_exec = stack.pop()
        in_exec = in_exec or any(m in _cmdline(p) for m in exec_markers)
        _pin(p, exec_cores if in_exec else driver_cores)
        # everything below a Worker/executor JVM (executor JVMs, pyspark
        # daemons + workers forked later inherit the -a affinity) is
        # executor-side regardless of its own cmdline
        stack.extend((c, in_exec) for c in _children(p))


def _materialize(df) -> int:
    """Force full evaluation without collecting rows to the driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _synth_corpus_path(tmp_root: str, n_convs: int) -> tuple[str, int]:
    """Write (once) the deterministic synthetic transcript corpus; return
    (path, n_turns). Generated DISTRIBUTED (per-conversation RNG fanned out
    over tasks) into many parquet files, so the extraction scan has
    plentiful input splits — the local emulation of the 100 TB layout.
    Generation cost is excluded from all timings (separate warm session)."""
    from pdf_parser_spark.sources.synth import generate_transcripts_distributed
    path = os.path.join(tmp_root, f"transcripts_{n_convs}_{BENCH_SEED}_dist")
    meta = path + ".meta"
    if os.path.isdir(path) and os.path.exists(meta):
        with open(meta) as f:
            return path, int(f.read().strip())
    spark = build_spark(DEFAULT_CPUS, app="bench-gen")
    try:
        df = generate_transcripts_distributed(
            spark, n_convs, seed=BENCH_SEED, max_turns=256,
            partitions=max(64, DEFAULT_CPUS * 4))
        df.write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
    finally:
        spark.stop()
    with open(meta, "w") as f:
        f.write(str(n))
    return path, n


def run_extraction_bench(spark, corpus_path: str, n_turns: int,
                         full: bool = True) -> dict:
    """Time the north-rule job: transcripts -> extracted chunks.

    Two physical strategies are timed:
    - windowed: generic-layout path (map + one chunk-level window shuffle);
    - bucketed: the production layout (Iceberg bucket(N, conv_id) + sorted
      write → conversation-complete splits → pure map, zero shuffle). The
      bench corpus is written conversation-complete per file, so reading it
      directly satisfies the bucketed contract — exactly like the real
      table layout would.
    turns_per_sec reports the bucketed path (the shape a production cluster
    runs); both walls are returned.
    """
    from pdf_parser_spark.config import DEFAULT_CONFIG
    from pdf_parser_spark.operators.merge import (extract_chunks,
                                                  extract_chunks_bucketed)

    transcripts = spark.read.parquet(corpus_path)
    # warm-up pass: JIT, Arrow init — and one task per core so EVERY Python
    # worker is forked and has imported pandas before the timed run
    cores = int(spark.sparkContext.defaultParallelism)
    _materialize(extract_chunks(transcripts.limit(4 * cores)
                                .repartition(cores), DEFAULT_CONFIG))
    # best-of-3: damp scheduler/GC noise; each run fully re-executes
    win = min(_timed(lambda: _materialize(
        extract_chunks(transcripts, DEFAULT_CONFIG))) for _ in range(3))
    bck = min(_timed(lambda: _materialize(
        extract_chunks_bucketed(transcripts, DEFAULT_CONFIG)))
        for _ in range(3))
    out = {"extract_sec": round(win, 3),
           "extract_bucketed_sec": round(bck, 3),
           "n_turns": n_turns,
           "turns_per_sec": round(n_turns / bck, 1),
           "turns_per_sec_windowed": round(n_turns / win, 1)}
    if not full:
        # lean mode for --scaling children: only the north-rule job
        return out
    # full heuristics mode (paragraph tokenizer + boilerplate mining +
    # repeated-element removal) through the bucketed path — the north
    # star's main-content pipeline, single run
    from pdf_parser_spark.config import CLEANING_CONFIG
    # min-of-2 for these too: they were the suite's only single-run
    # timings, so a host-steal spike (BASELINE.md host-health canary)
    # landed disproportionately on exactly these entries (observed:
    # embed_synth 4.7 s healthy vs 38 s in a degraded window while every
    # min-damped entry stayed flat)
    cln = min(_timed(lambda: _materialize(
        extract_chunks_bucketed(transcripts, CLEANING_CONFIG)))
        for _ in range(2))
    # embedding tier: iterator pandas UDF (hash-stub encoder) over all
    # extracted chunk texts
    from pdf_parser_spark.operators.embedding import embed_chunks
    chunks = extract_chunks_bucketed(transcripts, DEFAULT_CONFIG)
    emb = min(_timed(lambda: _materialize(
        embed_chunks(chunks, dim=64).select("conv_id", "chunk_idx",
                                            "embedding", "token_count")))
        for _ in range(2))
    out.update({"extract_cleaned_sec": round(cln, 3),
                "embed_sec": round(emb, 3),
                "turns_per_sec_cleaned": round(n_turns / cln, 1)})
    return out


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def _host_canary() -> float:
    """Single-thread fixed-work probe (million ops/sec of a pure-Python
    integer loop). The shared VM shows multi-hour windows of 3-5x
    degradation (hypervisor neighbors: high steal + sys time), far beyond
    the +-25%% jitter BASELINE.md documents — a bench line without a
    health stamp is uninterpretable across rounds. Healthy-box reference
    and the degraded-window evidence live in BASELINE.md."""
    def _one() -> float:
        x = 0
        t0 = time.monotonic()
        for _ in range(10):
            for i in range(100000):
                x += i * i
        return 1.0 / (time.monotonic() - t0)

    return round(sorted(_one() for _ in range(3))[1], 2)


def _cpu_times() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def _cpu_window(before, after) -> dict:
    """Whole-box CPU accounting between two /proc/stat samples: the
    fraction of elapsed CPU time spent in sys+irq (kernel) and steal
    (hypervisor ran someone else). Healthy runs of this suite sit around
    sys ~10% / steal ~1%; the degraded windows show sys 40-80% + steal
    5-15% — kernel spin from lock-holder preemption on an oversubscribed
    host."""
    if not before or not after:
        return {}
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1
    # fields: user nice system idle iowait irq softirq steal
    return {"cpu_sys_frac": round((d[2] + d[5] + d[6]) / total, 3),
            "cpu_steal_frac": round(d[7] / total, 3),
            "cpu_busy_frac": round(1 - (d[3] + d[4]) / total, 3)}


def run_headline(spark, sf_dir: str) -> dict[str, float]:
    from pdf_parser_spark.queries import QUERIES
    # warm-up: JVM JIT, codegen, parquet footer cache, Python worker pool —
    # excluded from every timing
    _materialize(spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000))
    # two full passes, per-query min — the same noise-damping the
    # extraction bench has had since round 1 (best-of-3). On this host a
    # single pass can land entirely inside a degraded window (see the
    # canary section in BASELINE.md) and misread a plan-shape question as
    # a 3-5x regression.
    timings: dict[str, float] = {}
    for _ in range(2):
        for name in HEADLINE:
            fn = QUERIES[name]
            # lakehouse entries cache their built tables process-private;
            # clear before timing so EVERY pass pays the full
            # build+commit+maintenance flow (the thing being benched)
            from pdf_parser_spark.queries import lakehouse_scratch_dir
            scratch = lakehouse_scratch_dir(name, sf_dir)
            if scratch is not None:
                import shutil
                shutil.rmtree(scratch, ignore_errors=True)
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            _materialize(df)
            dt = round(time.monotonic() - t0, 3)
            # dedup entries own a persisted fixed-width index; release it
            # between passes (outside the timing: the build IS timed, the
            # cleanup is bench hygiene, not query work)
            from pdf_parser_spark.operators.dedup import release_owned_storage
            release_owned_storage(df)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    return timings


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return -1.0


def main_bench(cores: int, sf_dir: str) -> None:
    tmp_root = os.path.join(tempfile.gettempdir(), "pdf_parser_spark_bench")
    os.makedirs(tmp_root, exist_ok=True)
    corpus, n_turns = _synth_corpus_path(tmp_root, BENCH_CONVS)

    canary_before = _host_canary()
    cpu_before = _cpu_times()
    spark = build_spark(cores)
    try:
        queries = run_headline(spark, sf_dir)
        ext = run_extraction_bench(spark, corpus, n_turns)
    finally:
        spark.stop()
    cpu_after = _cpu_times()
    canary_after = _host_canary()

    queries["extract_synth"] = ext["extract_sec"]
    queries["extract_synth_bucketed"] = ext["extract_bucketed_sec"]
    queries["extract_synth_cleaned"] = ext["extract_cleaned_sec"]
    queries["embed_synth"] = ext["embed_sec"]
    total = round(sum(queries.values()), 3)
    print(json.dumps({
        "metric": f"headline suite wall time ({len(HEADLINE)} operator-"
                  "family queries + synthetic-transcript extraction/"
                  "cleaning/embedding)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": _sf_from_dir(sf_dir),
        "turns_per_sec": ext["turns_per_sec"],
        "extract_n_turns": ext["n_turns"],
        "cores": cores,
        "host_canary_mloops_per_sec": [canary_before, canary_after],
        **_cpu_window(cpu_before, cpu_after),
        **_last_scaling(),
    }))


def _last_scaling() -> dict:
    """Attach the most recent --scaling result (BENCH_SCALING.json) if
    present, so the per-round bench JSON carries the efficiency evidence."""
    try:
        with open(os.path.join(REPO, "BENCH_SCALING.json")) as f:
            s = json.load(f)
        return {"scaling_efficiency": s.get("value"),
                "scaling_metric": s.get("metric"),
                "scaling_pass": s.get("pass")}
    except Exception:
        return {}


def main_extract_only(cores: int, n_convs: int,
                      executors: int | None = None) -> None:
    tmp_root = os.path.join(tempfile.gettempdir(), "pdf_parser_spark_bench")
    os.makedirs(tmp_root, exist_ok=True)
    corpus, n_turns = _synth_corpus_path(tmp_root, n_convs)
    if executors:
        spark = build_spark_cluster(executors, cores_per_exec=cores,
                                    app=f"extract-bench-x{executors}")
        pin_spec = os.environ.get("SPARK_GRAFT_PIN_TOPOLOGY")
        if pin_spec:
            exec_cores, driver_cores = pin_spec.split(";")
            # one tiny job first so every executor JVM (and its python
            # daemon) exists before pinning
            spark.range(executors * cores * 4).repartition(
                executors * cores).count()
            _pin_cluster_topology(exec_cores, driver_cores)
    else:
        spark = build_spark(cores, app=f"extract-bench-{cores}")
    try:
        ext = run_extraction_bench(spark, corpus, n_turns, full=False)
    finally:
        spark.stop()
    print(json.dumps({"cores": cores, "executors": executors, **ext}))



def main_maintain(cores: int, n_convs: int, cdc_convs: int = 100,
                  n_files: int | None = None) -> None:
    """Incremental-maintenance economics (sources/maintain.py): wall of a
    cdc_frac CDC refresh of the extracted table vs the full rebuild, same
    corpus, fresh tables. The number that justifies the changelog tier:
    at 10^12 turns a full rebuild is the only alternative.

    Geometry matters: production holds FILE SIZE constant (file count
    grows with the corpus) and CDC batches are absolute-sized, so the
    bench does the same — n_files defaults to ~400 convs/file and
    cdc_convs is an absolute count. Then affected files <= changed convs
    regardless of corpus size: refresh wall stays ~flat while the full
    rebuild grows linearly, which is the whole point of the tier. (A
    batch scattered across MORE convs than there are files legitimately
    rewrites everything — that regime is full-rebuild-shaped by
    construction and not what the tier is for.)"""
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from pdf_parser_spark.pipeline import read_transcripts
    from pdf_parser_spark.sources.cowtable import (create_table, merge_into,
                                                   read_manifest)
    from pdf_parser_spark.sources.maintain import (build_extracted_table,
                                                   refresh_extracted_table)

    tmp_root = os.path.join(tempfile.gettempdir(), "pdf_parser_spark_bench")
    os.makedirs(tmp_root, exist_ok=True)
    corpus, n_turns = _synth_corpus_path(tmp_root, n_convs)
    if n_files is None:
        n_files = max(64, n_convs // 400)
    work = os.path.join(tmp_root, f"maintain-{uuid.uuid4().hex[:8]}")
    src, dst = os.path.join(work, "src"), os.path.join(work, "dst")
    spark = build_spark(cores, app=f"maintain-bench-{cores}")
    try:
        turns = read_transcripts(spark, corpus).withColumn(
            "turn_key", F.concat_ws("#", "conv_id",
                                    F.format_string("%06d", "turn_idx")))
        # src laid out range-clustered on the key, ~32 files: pruning is
        # the production shape (Iceberg sort order / zorder on conv)
        create_table(spark,
                     turns.repartitionByRange(n_files, "turn_key"),
                     src, "turn_key")

        t0 = time.perf_counter()
        build_extracted_table(spark, src, dst, n_files=n_files)
        full_sec = time.perf_counter() - t0

        # CDC: rewrite every turn of ~cdc_convs conversations
        # (hash-picked, deterministic)
        batch = (turns.where(
                     F.pmod(F.xxhash64("conv_id"),
                            F.lit(max(1, n_convs // cdc_convs))) == 0)
                 .withColumn("text", F.concat(F.lit("EDIT "), "text"))
                 .withColumn("op", F.lit("upsert")))
        merge_into(spark, src, batch)

        t0 = time.perf_counter()
        stats = refresh_extracted_table(spark, src, dst)
        inc_sec = time.perf_counter() - t0
        m = stats["merge"]

        # second CDC round (disjoint hash pick), refreshed MERGE-ON-READ:
        # same work shape, but the dst chunk merge rewrites nothing —
        # the high-frequency live-maintenance mode
        batch2 = (turns.where(
                      F.pmod(F.xxhash64(F.concat(F.lit("b2"), "conv_id")),
                             F.lit(max(1, n_convs // cdc_convs))) == 0)
                  .withColumn("text", F.concat(F.lit("EDIT2 "), "text"))
                  .withColumn("op", F.lit("upsert")))
        merge_into(spark, src, batch2)
        t0 = time.perf_counter()
        stats2 = refresh_extracted_table(spark, src, dst, strategy="mor")
        mor_sec = time.perf_counter() - t0
        # skip paths (no changed conversations / already-reflected src
        # version) return no 'merge' stats — report zeros, don't die
        # after the expensive full build
        m2 = stats2.get("merge", {"files_rewritten": 0,
                                  "files_carried": 0})
        payload = {
            "metric": "incremental extracted-table refresh vs full rebuild",
            "n_convs": n_convs, "n_turns": n_turns,
            "cdc_convs_requested": cdc_convs, "n_files": n_files,
            "changed_convs": stats["changed_convs"],
            "full_build_sec": round(full_sec, 3),
            "refresh_sec": round(inc_sec, 3),
            "speedup": round(full_sec / inc_sec, 2),
            "files_rewritten": m["files_rewritten"],
            "files_carried": m["files_carried"],
            "refresh_mor_sec": round(mor_sec, 3),
            "mor_changed_convs": stats2.get("changed_convs", 0),
            "mor_files_rewritten": m2["files_rewritten"],
            "dst_version": read_manifest(dst)["version"],
            "cores": cores,
        }
        print(json.dumps(payload))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def main_scaling(n_cores: int, n4_cores: int, n_convs: int) -> None:
    """North-rule scaling evidence: identical job, fresh JVM per level.

    Each level is CPU-PINNED to exactly its core count (taskset) when
    available: local[N] on an idle 32-core box is not an N-core cluster —
    the JVM's scan/shuffle/Arrow threads would free-ride on the other
    32-N cores and inflate the small-cluster baseline. Pinning gives both
    levels the same contention regime a real N-core (resp. 4N-core)
    cluster has."""
    import shutil as _shutil
    taskset = _shutil.which("taskset")
    # pre-generate the corpus UNPINNED (all cores) so neither pinned child
    # pays generation cost
    tmp_root = os.path.join(tempfile.gettempdir(), "pdf_parser_spark_bench")
    os.makedirs(tmp_root, exist_ok=True)
    _synth_corpus_path(tmp_root, n_convs)

    def _one(cores: int) -> dict:
        cmd = [sys.executable, os.path.abspath(__file__), "--extract-only",
               "--cores", str(cores), "--convs", str(n_convs)]
        if taskset:
            cmd = [taskset, "-c", f"0-{cores - 1}"] + cmd
        out = subprocess.run(cmd, capture_output=True, text=True, check=True,
                             cwd=REPO)
        return json.loads(out.stdout.strip().splitlines()[-1])

    rounds = _median_paired_rounds(_one, n_cores, n4_cores)
    eff, med_a, med_b = rounds[len(rounds) // 2]
    results = {n_cores: med_a, n4_cores: med_b}
    thr_n = med_a["turns_per_sec"]
    thr_4n = med_b["turns_per_sec"]
    payload = {
        "rounds_efficiency": [round(r[0], 3) for r in rounds],
        "metric": f"extraction scaling efficiency local[{n_cores}] -> "
                  f"local[{n4_cores}]",
        "value": round(eff, 3),
        "unit": "efficiency",
        "n_turns": results[n_cores]["n_turns"],
        f"turns_per_sec_{n_cores}": thr_n,
        f"turns_per_sec_{n4_cores}": thr_4n,
        f"sec_{n_cores}": results[n_cores]["extract_bucketed_sec"],
        f"sec_{n4_cores}": results[n4_cores]["extract_bucketed_sec"],
        f"windowed_turns_per_sec_{n_cores}":
            results[n_cores]["turns_per_sec_windowed"],
        f"windowed_turns_per_sec_{n4_cores}":
            results[n4_cores]["turns_per_sec_windowed"],
        "pinned": bool(taskset),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    # persist for the judge + for the default bench run to attach
    with open(os.path.join(REPO, "BENCH_SCALING.json"), "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload))


def _median_paired_rounds(run_level, n, n4, rounds_n: int = 3):
    """Paired-rounds/median protocol shared by both scaling modes: both
    levels measured back-to-back per round (same host-noise window),
    efficiency per pair, median across pairs (per-level max would let an
    unlucky small-level session inflate the ratio; a single pair would
    let one slow window sink it)."""
    ratio = n4 / n
    rounds = []
    for _ in range(rounds_n):
        a = run_level(n)
        b = run_level(n4)
        rounds.append(((b["turns_per_sec"] / a["turns_per_sec"]) / ratio,
                       a, b))
    rounds.sort(key=lambda t: t[0])
    return rounds


def main_scaling_cluster(n_exec: int, n4_exec: int, n_convs: int,
                         cores_per_exec: int = 4) -> None:
    """The north rule verbatim: the identical job at N and 4N EXECUTORS
    (separate worker JVMs, code via --py-files). Pinning is PER PROCESS
    CLASS (see :func:`_pin_cluster_topology`): the executor process tree
    owns exactly executors x cores_per_exec cores, the driver JVM + bench
    process own the same 2 dedicated cores at both levels — the
    accounting a real cluster has, with neither the
    overhead-crammed-into-the-small-level bias (whole-tree pinning to
    executor cores, overstates efficiency) nor the idle-driver-cores
    free-ride (flat allowance, understates it). Writes
    BENCH_SCALING_CLUSTER.json."""
    import shutil as _shutil
    taskset = _shutil.which("taskset")
    tmp_root = os.path.join(tempfile.gettempdir(), "pdf_parser_spark_bench")
    os.makedirs(tmp_root, exist_ok=True)
    _synth_corpus_path(tmp_root, n_convs)
    # build the --py-files zip ONCE, unpinned, before any timed child
    subprocess.run([sys.executable, os.path.join(REPO, "jobs", "package.py")],
                   check=True, capture_output=True)

    def _one(execs: int) -> dict:
        cores_total = execs * cores_per_exec
        cmd = [sys.executable, os.path.abspath(__file__), "--extract-only",
               "--cores", str(cores_per_exec), "--executors", str(execs),
               "--convs", str(n_convs)]
        env = dict(os.environ)
        if taskset:
            env["SPARK_GRAFT_PIN_TOPOLOGY"] = (
                f"0-{cores_total - 1};{cores_total}-{cores_total + 1}")
        out = subprocess.run(cmd, capture_output=True, text=True, check=True,
                             cwd=REPO, env=env)
        return json.loads(out.stdout.strip().splitlines()[-1])

    rounds = _median_paired_rounds(_one, n_exec, n4_exec)
    eff, med_a, med_b = rounds[len(rounds) // 2]
    payload = {
        "rounds_efficiency": [round(r[0], 3) for r in rounds],
        "metric": f"extraction scaling efficiency {n_exec} -> {n4_exec} "
                  f"executors (local-cluster, executor process tree pinned "
                  f"to exactly {cores_per_exec} cores/executor, driver JVM "
                  "on its own 2 cores at both levels, code via --py-files "
                  "zip)",
        "value": round(eff, 3),
        "unit": "efficiency",
        "n_turns": med_a["n_turns"],
        f"turns_per_sec_{n_exec}exec": med_a["turns_per_sec"],
        f"turns_per_sec_{n4_exec}exec": med_b["turns_per_sec"],
        f"sec_{n_exec}exec": med_a["extract_bucketed_sec"],
        f"sec_{n4_exec}exec": med_b["extract_bucketed_sec"],
        "pinned": bool(taskset),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    with open(os.path.join(REPO, "BENCH_SCALING_CLUSTER.json"), "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--scaling-cluster", action="store_true",
                    help="N vs 4N EXECUTORS via local-cluster (separate "
                         "worker JVMs, --py-files deployment), CPU-pinned")
    ap.add_argument("--extract-only", action="store_true")
    ap.add_argument("--maintain", action="store_true",
                    help="incremental refresh vs full rebuild economics")
    ap.add_argument("--cdc-convs", type=int, default=100,
                    help="absolute changed-conversation count for --maintain")
    ap.add_argument("--maintain-files", type=int, default=None)
    ap.add_argument("--executors", type=int, default=None,
                    help="--extract-only on a local-cluster with this many "
                         "executors of --cores each (default 4/executor)")
    ap.add_argument("--cores", type=int, default=None,
                    help=f"thread count (local mode, default {DEFAULT_CPUS})"
                         " or cores per executor (--executors mode,"
                         " default 4)")
    ap.add_argument("--n-cores", type=int, default=4,
                    help="N for --scaling (4N is 4*N, or --cores if larger)."
                         " Default 4 -> 16: both levels stay within the"
                         " 32-core box without saturating it — a real"
                         " cluster adds machines rather than pinning its"
                         " last core; 8 -> 32 numbers are reported in"
                         " BASELINE.md for completeness")
    ap.add_argument("--convs", type=int, default=None)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    args = ap.parse_args()

    if args.scaling:
        n4 = 4 * args.n_cores
        if args.cores is not None:
            n4 = max(args.cores, n4)
        main_scaling(args.n_cores, n4, args.convs or SCALING_CONVS)
    elif args.scaling_cluster:
        main_scaling_cluster(1, 4, args.convs or SCALING_CONVS)
    elif args.maintain:
        main_maintain(args.cores if args.cores is not None else DEFAULT_CPUS,
                      args.convs or BENCH_CONVS, args.cdc_convs,
                      args.maintain_files)
    elif args.extract_only:
        cores = args.cores if args.cores is not None \
            else (4 if args.executors else DEFAULT_CPUS)
        main_extract_only(cores, args.convs or BENCH_CONVS,
                          executors=args.executors)
    else:
        main_bench(args.cores if args.cores is not None else DEFAULT_CPUS,
                   args.sf_dir)
