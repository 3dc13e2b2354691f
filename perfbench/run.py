"""Benchmark of pdf_parser_spark: extraction backfill, live CDC and RAG.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload live_cdc_rag --seed 1 --seconds 5 --trace 1
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Each workload runs in this fresh process on the production
``session.build_session(cores=nproc)``; a traced run adds only the event
log settings. The process generates (or reuses) the seeded corpus, sets
up, discards warm-up ops, runs a closed loop with one client for
``--seconds``, checks the outputs outside timing, and prints one line
per metric (``metric <workload> <name> <value> <unit>``) and, last, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1`` (names and units from ``BENCHMARK.json``).

``--workload all`` runs every workload in its own process and prints
each one's named metrics (e.g. ``backfill turns_per_s``) with their
units, and the ops attempted and failed.

Everything the run writes stays under ``.perfbench/`` in the checkout:
the corpus cache, the run's tables (removed at exit), Spark's local
dirs, a results file per run and a trace file per traced run.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# both workloads' corpus in the smoke test
TOY_TURNS = 600
# core.turns_per_s: oracle over the first conversations of the corpus,
# up to this many turns, on the driver, one thread
CORE_SAMPLE_TURNS = 3000
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
# every workload reports every metric; a layer the workload does not
# exercise reads 0
WORKLOADS = tuple(w["name"] for w in _BENCH["workloads"])
E2E_UNITS = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, spark, rec, seed, seconds, corpus, meta, run_dir,
                 session_s, t_setup):
        self.spark, self.rec, self.seed = spark, rec, seed
        self.seconds, self.corpus, self.meta = seconds, corpus, meta
        self.run_dir, self.session_s = run_dir, session_s
        self._t_setup = t_setup
        self._excluded = 0.0
        self.setup_s = 0.0

    @contextlib.contextmanager
    def untimed(self):
        """Benchmark bookkeeping inside set-up, left out of setup_s."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._excluded += time.perf_counter() - t0

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self._t_setup - self._excluded


def _set_env() -> None:
    """Environment for this process, its Spark JVM and Python workers:
    the checkout on PYTHONPATH (workers started elsewhere must import
    the package) and every scratch directory inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin closes
    and would otherwise outlive this process by a second or two."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so a
    descendant orphaned by its parent's exit (Spark's Python worker
    daemon outlives the JVM briefly) is reparented here, not to init,
    and ``_reap`` can wait for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):  # PR_SET_CHILD_SUBREAPER is Linux's
        pass


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # pid (comm) state ppid ...; comm may hold spaces and parentheses
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            kids.append(int(name))
    return kids


def _reap(grace: float = 15.0) -> None:
    """Wait for every process left under this one: first ``grace``
    seconds for them to end by themselves, then SIGTERM, then SIGKILL."""
    if not os.path.isdir("/proc"):
        return
    deadline = time.monotonic() + grace
    sig = None
    while True:
        while True:  # collect whatever has ended
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for pid in kids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _core_turns_per_s(corpus: str) -> float:
    import pyarrow.dataset as ds

    from pdf_parser_spark.core.oracle import extract_many
    from tracing import median

    rows = (ds.dataset(os.path.join(corpus, "transcripts.parquet"))
            .to_table(columns=["conv_id", "turn_idx", "text", "tool"])
            .to_pylist())
    rows.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
    sample = rows[:CORE_SAMPLE_TURNS]
    while sample and len(sample) < len(rows) and \
            rows[len(sample)]["conv_id"] == sample[-1]["conv_id"]:
        sample.append(rows[len(sample)])  # whole conversations only
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        extract_many(sample)
        times.append(time.perf_counter() - t0)
    return len(sample) / median(times)


def _layers(res: dict, rec, events: dict, corpus: str,
            overhead_kind: str) -> dict:
    from live import TOP_K
    from tracing import median, spark_layer

    layers = {k: 0.0 for k in LAYER_UNITS}
    layers.update(res["layers"])
    layers["core.turns_per_s"] = _core_turns_per_s(corpus)
    layers.update(spark_layer(events, rec.op_kind, rec.op_turns))
    q_ops = [g for g, k in rec.op_kind.items() if k == "query"]
    if q_ops:
        scanned = sum(events.get(g, {}).get("input_records", 0.0)
                      for g in q_ops) / len(q_ops)
        layers["retrieval.rows_scanned_per_query"] = scanned
        layers["retrieval.useful_frac"] = TOP_K / scanned if scanned else 0.0
    plain = rec.plain[overhead_kind]
    traced = rec.traced_walls(overhead_kind)
    layers["trace.overhead_frac"] = (median(traced) / median(plain) - 1.0
                                     if plain and traced else 0.0)
    return layers


def run_one(args) -> int:
    if not (os.path.isfile(os.path.join(ROOT, "pdf_parser_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "jobs",
                                            "equality_check.py"))):
        print(f"perfbench: no pdf_parser_spark checkout at {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    _set_env()

    import backfill
    import host
    import live
    from corpus import ensure_corpus

    module = backfill if args.workload == "backfill" else live
    corpus, meta = ensure_corpus(
        WORK, TOY_TURNS if args.toy else module.N_TURNS, args.seed)
    cores = host.usable_cores()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", tag)
    event_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(event_dir)
    context = {"canary": host.canary(cores)}
    stat0 = host.cpu_times()

    # set-up clock: from here (corpus ready, nothing Spark imported yet)
    # until the workload's tables are built and its warm-up ops are done
    t_setup = time.perf_counter()
    from pdf_parser_spark.session import build_session
    from tracing import Recorder, read_event_log

    extra = ({"spark.eventLog.enabled": "true",
              "spark.eventLog.compress": "false",
              "spark.eventLog.dir": "file://" + event_dir}
             if args.trace else None)
    spark = build_session(f"perfbench-{args.workload}", cores=cores,
                          extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    rec = Recorder(spark, bool(args.trace))
    ctx = Ctx(spark, rec, args.seed, args.seconds, corpus, meta, run_dir,
              session_s, t_setup)
    try:
        try:
            res = module.run(ctx)
        finally:
            _stop(spark)
        context["cpu"] = host.cpu_shares(stat0, host.cpu_times())
        context["cores"] = cores
        if args.trace:
            layers = _layers(res, rec, read_event_log(event_dir), corpus,
                             module.OVERHEAD_KIND)
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in LAYER_UNITS.items()}
        else:
            e2e = {"setup_s": ctx.setup_s, **res["e2e"]}
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in E2E_UNITS.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out = {"correct": rec.failed == 0, "attempted": rec.attempted,
           "failed": rec.failed, "metrics": metrics}
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "context": context, "info": res["info"],
              "named": res["named"], "samples": rec.samples,
              "counts": rec.counts, **out}
    for sub in ("results", "traces"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as fh:
        json.dump(record, fh)
    if args.trace:
        rec.write_trace(os.path.join(WORK, "traces", f"{tag}.json"),
                        {"workload": args.workload, "seed": args.seed,
                         "layers": metrics})

    print("context " + json.dumps(context))
    for wl, name, value, unit in res["named"]:
        print(f"metric {wl} {name} {value:.6g} {unit}")
    print(f"ops {args.workload} attempted={rec.attempted} "
          f"failed={rec.failed}")
    print(json.dumps(out))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; their named metrics with
    units."""
    total_att = total_fail = 0
    metrics = {}
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--toy"] if args.toy else [])
        p = subprocess.run(cmd, capture_output=True, text=True,
                           timeout=900)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-4000:])
            print(f"ops {wl} run failed (exit {p.returncode})")
            return 1
        res = json.loads(lines[-1])
        total_att += res["attempted"]
        total_fail += res["failed"]
        for line in lines:
            if line.startswith(("metric ", "ops ")):
                print(line)
                if line.startswith("metric "):
                    _, w, name, value, unit = line.split()
                    metrics[f"{w}/{name}"] = {"value": float(value),
                                              "unit": unit}
    print(json.dumps({"correct": total_fail == 0, "attempted": total_att,
                      "failed": total_fail, "metrics": metrics}))
    return 0 if total_fail == 0 else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help=f"{TOY_TURNS}-turn corpus (smoke test)")
    args = ap.parse_args(argv)
    _adopt_orphans()
    try:
        return run_all(args) if args.workload == "all" else run_one(args)
    finally:
        _reap()


if __name__ == "__main__":
    sys.exit(main())
