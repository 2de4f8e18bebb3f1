"""Host-fit benchmark of the columnar encode engine: encode, append, decode.

Run from the root of a checkout:

    python3 perfbench/run.py --workload large-files --seed 1 --seconds 12 \
        --trace 0

One driver process, one Spark job at a time (closed loop, one client). Each
run:

1. generates its inputs from ``--seed`` with ``sources.datagen`` (cached per
   seed; outside set-up and every timed section);
2. the cold set-up, which ``setup_s`` reports: imports,
   ``session.get_spark`` at ``local[nproc]`` and a warmup (an encode of one
   tiny file plus one ``read_decoded`` query);
3. one ``encode_path(append=True)`` wave per appended file onto one tree,
   then rounds of encode, ``verify_files`` and the ``read_decoded``
   group-by scan until the appends and rounds add up to ``--seconds``;
4. a ``local[1]`` session in the same JVM, warmed by an encode of the tiny
   file, then the 1-core encode of the base table;
5. checks every output (encode totals, verify, scan sums, append lineage,
   decoded row count and duplicates) and prints one JSON line.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see tracing.py and README.md).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "embulk_input_parquet_hadoop_spark"
SCAN_COLUMNS = ("tokens", "source")
# codecs the selector picks on datagen tables (rle and dict never win there)
CODECS = ("plain", "for", "delta", "xp")
MIN_ROUNDS = 3
# the run's timed operations, as top-level spans
TIMED_OPS = ("append.wave", "pipeline.encode_path", "verify.verify_files",
             "scan.collect", "encode.1core")


def host_info() -> dict:
    import numpy
    import pyarrow
    import pyspark
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal"))
                     .split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(mem_kb / 2**20, 1),
            "python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


def configure_env(work: str, nproc: int, ram_gb: float) -> None:
    """Keep every file the run writes inside the checkout and size Spark to
    the host."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "cache", "spark-local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["XDG_CACHE_HOME"] = dirs["cache"]     # the codec C build
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # get_spark's default driver heap (24g) exceeds a small host's RAM
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, int(ram_gb // 4)))}g"
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={dirs['tmp']}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile
    tempfile.tempdir = dirs["tmp"]


class RssSampler:
    """Largest RSS of any Python worker process descended from this one,
    sampled from /proc every 100 ms while running."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        me = os.getpid()
        while not self._stop.wait(0.1):
            for rss in _worker_rss(me).values():
                self.peak_kb = max(self.peak_kb, rss)


def _proc_table() -> dict[int, tuple[int, str]]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out[int(name)] = (ppid, cmd)
    return out


def descendants(root: int) -> dict[int, str]:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid][1]
        todo.extend(kids.get(pid, []))
    return out


def _worker_rss(root: int) -> dict[int, int]:
    out = {}
    for pid, cmd in descendants(root).items():
        # the Python daemon and the workers forked from it (the JVM's own
        # command line also names the daemon module, in a --conf)
        argv = cmd.split()
        if not argv or "python" not in os.path.basename(argv[0]) or not (
                f"{PKG}.daemon" in argv or "pyspark.daemon" in argv):
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                out[pid] = int(fh.read().split()[1]) * (os.sysconf(
                    "SC_PAGE_SIZE") // 1024)
        except OSError:
            pass
    return out


def reap_descendants(timeout: float = 10.0) -> None:
    """Terminate whatever this run started that is still alive, and wait
    until it has exited."""
    import signal
    sig, deadline = signal.SIGTERM, time.monotonic() + timeout
    while (left := descendants(os.getpid())):
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        while True:  # reap our own exited children
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        time.sleep(0.2)
        if time.monotonic() > deadline:
            sig = signal.SIGKILL


def decoded_doc_ids(tree: str) -> list[str]:
    """doc_id of every row in the committed waves of ``tree``, decoded in
    this process with the engine's own column decoder."""
    import pyarrow.parquet as pq

    from embulk_input_parquet_hadoop_spark.operators.encode import (
        decode_column)
    from embulk_input_parquet_hadoop_spark.plans import manifest
    ids: list[str] = []
    for w in sorted(manifest.completed_waves(None, tree)):
        wdir = os.path.join(tree, "chunks", f"wave={w}")
        for name in sorted(os.listdir(wdir)):
            t = pq.read_table(os.path.join(wdir, name),
                              columns=["cols", "blobs"])
            for cols, blobs in zip(t.column("cols").to_pylist(),
                                   t.column("blobs").to_pylist()):
                c = next(i for i, c in enumerate(cols)
                         if c["name"] == "doc_id")
                ids += decode_column(cols[c]["kind"], blobs[c]).to_pylist()
    return ids


def tree_bytes(out_dir: str) -> int:
    total = 0
    for dp, _, names in os.walk(os.path.join(out_dir, "chunks")):
        total += sum(os.path.getsize(os.path.join(dp, n)) for n in names
                     if n.endswith(".parquet"))
    return total


class Run:
    def __init__(self, args, work: str, host: dict):
        self.args, self.work = args, work
        self.nproc = host["nproc"]
        self.scratch = os.path.join(work, "run")
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        from tracing import Tracer
        self.tracer = Tracer(uuid.uuid4().hex[:12])
        self.traced = bool(args.trace)
        self.spark = None
        self._n = 0

    # --- bookkeeping -------------------------------------------------------

    def fresh(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.scratch, f"{tag}-{self._n}")

    def check(self, ok: bool, what: str) -> bool:
        """One operation attempted; a failed gate counts as a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def span(self, name: str):
        return self.tracer.span(name)

    # --- session -----------------------------------------------------------

    def setup(self, cores: int, scan: bool = True) -> None:
        """get_spark + warmup: a one-file encode and, if ``scan``, one
        read_decoded query."""
        from embulk_input_parquet_hadoop_spark.plans import pipeline
        from embulk_input_parquet_hadoop_spark.session import get_spark
        with self.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench", cores=cores,
                extra_conf={"spark.ui.showConsoleProgress": "false"})
        warm = self.fresh("warm")
        pipeline.encode_path(self.spark, os.path.dirname(self.inp["warm"][0]),
                             warm, input_files=self.inp["warm"])
        if scan:
            self.scan(warm, "warmup.scan")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        from pyspark import SparkContext
        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — kill on any wait failure
                    proc.kill()
                    proc.wait(timeout=30)

    # --- operations --------------------------------------------------------

    def encode(self, out: str, files: list[str]) -> float:
        from embulk_input_parquet_hadoop_spark.plans import pipeline
        t0 = time.perf_counter()
        with self.span("pipeline.encode_path"):
            res = pipeline.encode_path(self.spark, os.path.dirname(files[0]),
                                       out, input_files=files)
        wall = time.perf_counter() - t0
        tot = self.inp["base_totals"]
        self.check(res["n_tokens"] == tot["tokens"]
                   and res["n_rows"] == tot["rows"],
                   f"encode totals {res['n_tokens']} != {tot['tokens']}")
        return wall

    def verify(self, out: str) -> None:
        from embulk_input_parquet_hadoop_spark.plans import verify
        t0 = time.perf_counter()
        with self.span("verify.verify_files"):
            res = verify.verify_files(self.spark, out)
        wall = time.perf_counter() - t0
        want = self.inp["base_totals"]["tokens"]
        if self.check(res["ok"] and res["tokens_compared"] == want,
                      f"verify_files {res}"):
            self.sample("verify_tok_s", want / wall)

    def scan(self, out: str, span: str = "scan.collect") -> tuple:
        from pyspark.sql import functions as F

        from embulk_input_parquet_hadoop_spark.plans import pipeline
        df = (pipeline.read_decoded(self.spark, out, list(SCAN_COLUMNS),
                                    "tokens array<int>, source string")
              .groupBy("source").agg(F.sum(F.size("tokens")).alias("n")))
        with self.span(span) as s:
            rows = df.collect()
        by_source = {r["source"]: int(r["n"]) for r in rows}
        return sum(by_source.values()), by_source, s[2] - s[1]

    def timed_scan(self, out: str) -> None:
        # the scan is the shortest operation and still warming up over the
        # first rounds, so each round takes two samples of it
        want = self.inp["base_totals"]
        for _ in range(2):
            total, by_source, wall = self.scan(out)
            if self.check(total == want["tokens"]
                          and by_source == want["by_source"],
                          f"scan totals {total} != {want['tokens']}"):
                self.sample("scan_tok_s", total / wall)

    def append_waves(self) -> None:
        from embulk_input_parquet_hadoop_spark.plans import manifest, pipeline
        tree = self.fresh("append")
        files = self.inp["append"]
        for f in files:
            t0 = time.perf_counter()
            with self.span("append.wave"), self.span("pipeline.encode_path"):
                res = pipeline.encode_path(self.spark, os.path.dirname(f),
                                           tree, append=True,
                                           input_files=[f])
            if self.check(res["waves_run"] == 1, f"append of {f}: {res}"):
                self.sample("append_wave_s", time.perf_counter() - t0)
        committed = {pipeline._lineage_key(p)
                     for p in manifest.committed_input_files(tree)}
        self.check(committed == {pipeline._lineage_key(p) for p in files},
                   "append lineage differs from the appended files")
        ids = decoded_doc_ids(tree)
        want = self.inp["append_totals"]["rows"]
        self.check(len(ids) == want and len(set(ids)) == want,
                   f"append rows {len(ids)}/{len(set(ids))} != {want}")

    # --- the run -----------------------------------------------------------

    def execute(self) -> dict:
        import inputs
        args = self.args
        with self.span("run.inputs"):
            self.inp = inputs.ensure(self.work, args.workload, args.seed,
                                     self.nproc)
        tokens = self.inp["base_totals"]["tokens"]
        t_imports = time.perf_counter()
        import embulk_input_parquet_hadoop_spark.plans.pipeline  # noqa: F401
        import embulk_input_parquet_hadoop_spark.plans.verify  # noqa: F401
        import embulk_input_parquet_hadoop_spark.session  # noqa: F401
        with RssSampler() as rss:
            # the cold set-up (imports + JVM) at local[nproc]
            self.setup(self.nproc)
            self.sample("setup_s", time.perf_counter() - t_imports)
            self.pq_bytes = inputs.parquet_zstd_bytes(self.spark, self.inp,
                                                      self.nproc)
            if self.traced:
                import tracing
                tracing.install_driver(self.tracer)
            t_timed = time.perf_counter()
            self.append_waves()
            # encode/verify/scan rounds until the appends and rounds add up
            # to --seconds (at least MIN_ROUNDS, so that the median drops a
            # slow first round; one when traced, whose spans only feed the
            # per-layer metrics)
            for n in itertools.count(1):
                self.bulk_round()
                if self.traced or (n >= MIN_ROUNDS and time.perf_counter()
                                   - t_timed >= args.seconds):
                    break
            # a local[1] session in the same, by now warm, JVM; then the
            # 1-core leg of the scaling pair
            self.stop_session()
            self.setup(1, scan=False)
            with self.span("encode.1core"):
                wall1 = self.encode(self.fresh("enc1"), self.inp["base"])
            self.sample("encode_1core_tok_s", tokens / wall1)
            self.tracer.unpatch()
            with self.span("run.shutdown"):
                self.shutdown()
        self.peak_rss_mb = rss.peak_kb / 1024
        return self.report()

    def bulk_round(self) -> None:
        """One encode at local[nproc], then verify_files and the scan over
        the fresh tree it wrote."""
        out = self.fresh("enc")
        wall = self.encode(out, self.inp["base"])
        self.sample("encode_tok_s", self.inp["base_totals"]["tokens"] / wall)
        self.sample("size_ratio", tree_bytes(out) / self.pq_bytes)
        self.verify(out)
        self.timed_scan(out)
        self.last_tree = out

    def finish_trace(self) -> dict:
        """Replay the worker-side task entry points and derive the
        per-layer metrics."""
        import tracing
        t = self.tracer
        base = self.inp["base"]
        mtok = self.inp["base_totals"]["tokens"] / 1e6
        with t.span("replay.encode"):
            enc_wall = tracing.replay_encode(t, base, self.fresh("replay"))
        with t.span("replay.append"):
            app_wall = tracing.replay_encode(t, self.inp["append"],
                                             self.fresh("replay"))
        from embulk_input_parquet_hadoop_spark.plans import fsutil, pipeline
        pairs = []
        for p in pipeline.meta_files(self.last_tree, 0):
            m = fsutil.read_parquet(p, columns=["source_file", "chunk_file"])
            pairs += [(s, c) for s, c in zip(
                m.column("source_file").to_pylist(),
                m.column("chunk_file").to_pylist()) if c]
        pairs = sorted(set(pairs))
        with t.span("replay.verify"):
            ver_wall = tracing.replay_verify(t, pairs)
        with t.span("replay.decode"):
            arrow_bytes = tracing.replay_decode(
                t, sorted({c for _, c in pairs}), SCAN_COLUMNS)
        return layer_metrics(t, self, mtok, enc_wall, app_wall, ver_wall,
                             arrow_bytes)

    def report(self) -> dict:
        s, med = self.samples, statistics.median
        if self.traced:
            metrics = self.finish_trace()
        else:
            waves = s["append_wave_s"]
            enc, enc1 = med(s["encode_tok_s"]), med(s["encode_1core_tok_s"])
            metrics = {
                "setup_s": s["setup_s"][0],
                "encode_tok_s": enc,
                "encode_1core_tok_s": enc1,
                "scaling_eff": enc / (self.nproc * enc1),
                "size_vs_parquet_zstd": med(s["size_ratio"]),
                "append_wave_p50_s": med(waves),
                "verify_tok_s": med(s["verify_tok_s"]),
                "scan_tok_s": med(s["scan_tok_s"]),
                "worker_peak_rss_mb": self.peak_rss_mb,
            }
        return metrics


def layer_metrics(t, run: Run, mtok: float, enc_wall: float,
                  app_wall: float, ver_wall: float, arrow_bytes: int) -> dict:
    st = statistics

    def per_mtok(seconds: float) -> float:
        return seconds * 1000.0 / mtok

    m: dict[str, float] = {}
    cold = t.named("session.get_spark")[0]
    m["session.get_spark_s"] = cold[2] - cold[1]
    # driver spans of the append waves, per wave
    waves = t.named("append.wave")
    n_w = len(waves)
    plan = action = meta = commit = wall = 0.0
    for w in waves:
        enc = next(s for s in t.spans if s[0] == "pipeline.encode_path"
                   and t.ancestor(s, "append.wave") is w)
        acts = [s for s in t.named("df.toArrow")
                if t.ancestor(s, "pipeline.encode_path") is enc]
        plan += acts[0][1] - enc[1]
        action += sum(s[2] - s[1] for s in acts)
        wall += enc[2] - enc[1]
    meta = t.total("pipeline.meta_write", under="append.wave")
    commit = t.total("manifest.commit_wave", under="append.wave")
    m["pipeline.plan_s"] = plan / n_w
    m["pipeline.action_s"] = action / n_w
    m["pipeline.meta_write_s"] = meta / n_w
    m["manifest.commit_wave_s"] = commit / n_w
    m["pipeline.attributed_frac"] = (plan + action + meta + commit) / wall
    m["pipeline.task_overhead_s_per_file"] = (action - app_wall) / n_w
    # the bulk encode at local[nproc]: one action running every base file
    bulk = [s for s in t.named("df.toArrow", under="pipeline.encode_path")
            if t.ancestor(s, "append.wave") is None
            and t.ancestor(s, "encode.1core") is None]
    bulk_action = st.median(s[2] - s[1] for s in bulk)
    n_files = len(run.inp["base"])
    m["pipeline.bulk_action_s"] = bulk_action
    m["pipeline.bulk_task_overhead_s_per_file"] = (
        bulk_action * min(run.nproc, n_files) - enc_wall) / n_files
    for fn in ("committed_input_files", "completed_waves"):
        m[f"manifest.{fn}_s"] = t.total(f"manifest.{fn}",
                                        under="append.wave") / n_w
    m["manifest.records_read"] = len(t.named("fsutil.read_json",
                                             under="append.wave")) / n_w
    # encode task replay over the base files
    rp = "replay.encode"
    read = t.total("task.read", under=rp)
    encode = t.total("task.encode", under=rp)
    write = t.total("task.write", under=rp)
    m["task.read_ms_per_mtok"] = per_mtok(read)
    m["task.encode_ms_per_mtok"] = per_mtok(encode)
    m["task.write_ms_per_mtok"] = per_mtok(write)
    m["task.self_ms_per_mtok"] = per_mtok(enc_wall - read - encode - write)
    m["task.attributed_frac"] = (read + encode + write) / enc_wall
    # at local[1] the tasks run one after another, so this is the share of
    # the 1-core encode wall that is task work rather than Spark and driver
    # overhead
    one = t.named("pipeline.encode_path", under="encode.1core")[0]
    m["task.share_of_1core_encode"] = enc_wall / (one[2] - one[1])
    cols = t.named("encode.column", under=rp)
    tok = sum(s[2] - s[1] for s in cols if s[4].get("kind") == "list_i32")
    m["encode.tokens_ms_per_mtok"] = per_mtok(tok)
    m["encode.other_cols_ms_per_mtok"] = per_mtok(
        sum(s[2] - s[1] for s in cols) - tok)
    z = t.named("encode.zstd", under=rp)
    m["encode.zstd_ms_per_mtok"] = per_mtok(sum(s[2] - s[1] for s in z))
    m["encode.zstd_kept_frac"] = (sum(1 for s in z if s[4].get("kept"))
                                  / max(1, len(z)))
    best = t.named("select.encode_best", under=rp)
    m["select.encode_best_ms_per_mtok"] = per_mtok(
        sum(s[2] - s[1] for s in best))
    for codec in CODECS:
        m[f"select.choice.{codec}"] = sum(1 for s in best
                                          if s[4].get("choice") == codec)
    m["codecs.xp_encode_ms_per_mtok"] = per_mtok(
        t.total("codecs.xp_encode", under=rp))
    m["codecs.bitpack_pack_ms_per_mtok"] = per_mtok(
        t.total("codecs.bitpack_pack", under=rp))
    # verify task replay and the Spark-side verify action
    src = t.total("verify.source_read", under="replay.verify")
    dec = t.total("verify.decode", under="replay.verify")
    m["verify.source_read_ms_per_mtok"] = per_mtok(src)
    m["verify.compare_ms_per_mtok"] = per_mtok(ver_wall - src - dec)
    m["verify.action_s"] = st.median(
        s[2] - s[1] for s in t.named("df.toArrow",
                                     under="verify.verify_files"))
    # decode replay over the chunk files
    dcols = t.named("decode.column", under="replay.decode")
    dtok = sum(s[2] - s[1] for s in dcols if s[4]["kind"] == "list_i32")
    m["decode.tokens_ms_per_mtok"] = per_mtok(dtok)
    m["decode.other_cols_ms_per_mtok"] = per_mtok(
        sum(s[2] - s[1] for s in dcols) - dtok)
    m["decode.zstd_ms_per_mtok"] = per_mtok(
        t.total("decode.zstd", under="replay.decode"))
    scan_decode = sum(s[2] - s[1] for s in dcols
                      if s[4]["col"] in SCAN_COLUMNS)
    scan_action = st.median(s[2] - s[1] for s in t.named("scan.collect"))
    m["scan.action_s"] = scan_action
    m["scan.boundary_s"] = scan_action - scan_decode / run.nproc
    m["scan.arrow_bytes"] = arrow_bytes
    # the wrappers' cost: spans they recorded in the timed operations times
    # the cost of one wrapped call, measured here, over those operations'
    # wall (a direct traced-minus-untraced difference is below host noise)
    import tracing
    ops = [s for s in t.spans if s[3] < 0 and s[0] in TIMED_OPS]
    inside = [s for s in t.spans if s[0] in tracing.DRIVER_SPANS
              and any(t.ancestor(s, op) is not None for op in TIMED_OPS)]
    m["trace.overhead_frac"] = (len(inside) * tracing.wrapped_call_cost()
                                / sum(s[2] - s[1] for s in ops))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", default=os.path.join(ROOT, ".perfbench_work"),
                    help="directory for inputs, trees and traces")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "session.py")):
        print(f"error: {PKG}/ not found next to {HERE}; run from the root "
              f"of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import inputs
    if args.workload not in inputs.WORKLOADS:
        print(f"error: unknown workload {args.workload!r} "
              f"(have {sorted(inputs.WORKLOADS)})", file=sys.stderr)
        return 2
    work = os.path.abspath(args.work)
    host = host_info()
    configure_env(work, host["nproc"], host["ram_gb"])
    print(json.dumps({"host": host, "workload": args.workload,
                      "seed": args.seed, "trace": args.trace}), flush=True)
    run = Run(args, work, host)
    try:
        metrics = run.execute()
    finally:
        run.shutdown()
        reap_descendants()
    run.tracer.dump(os.path.join(
        work, "traces", f"{args.workload}-s{args.seed}-t{args.trace}-"
        f"{run.tracer.run_id}.jsonl"))
    units = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    unit_of = {m["name"]: m["unit"]
               for m in units["end_to_end"] + units["per_layer"]}
    detail = {"host": host, "args": vars(args), "samples": run.samples,
              "errors": run.errors, "metrics": metrics}
    with open(os.path.join(work, "last_run.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    for e in run.errors:
        print(f"gate failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit_of[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
