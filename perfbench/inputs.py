"""Seeded benchmark inputs, generated once per (workload, shape, seed) and
cached.

Every input file comes from ``sources.datagen.generate`` with a seed derived
from the run's ``--seed``; the program under test only ever sees the files.
Generation runs in a small process pool before any timed section and before
set-up, and its result (plus the token/row totals the correctness gates
compare against) is cached under the work directory, so a repeated seed pays
nothing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

# Workload shapes, taken from the two traffic shapes the engine serves: bulk
# loads of large source files (~7.5M tokens each, one per core of a 4-core
# host), where the source read, codec selection, codecs, outer zstd and chunk
# write do most of an encode task's work; and many small files (~150k tokens
# each, the size of an incremental append), where the per-task and per-action
# costs of Spark and the driver do. Both workloads run every phase, with the
# same appends; they differ in the base table.
WORKLOADS = {
    "large-files": {"base_files": 4, "base_docs": 25_000},
    "small-files": {"base_files": 8, "base_docs": 500},
}
APPEND_FILES = 6    # one wave each; the run-time budget allows no more
APPEND_DOCS = 500   # ~150k tokens per appended file
WARM_DOCS = 64      # the warmup file


def _gen_one(out_file: str, n_docs: int, seed: int, start_doc: int) -> None:
    from embulk_input_parquet_hadoop_spark.sources import datagen
    tmp = out_file + ".d"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.generate(tmp, n_docs=n_docs, seed=seed, n_files=1,
                     start_doc=start_doc)
    os.replace(os.path.join(tmp, "part-00000.parquet"), out_file)
    shutil.rmtree(tmp)


def _totals(files: list[str]) -> dict:
    rows = tokens = 0
    by_source: dict[str, int] = {}
    for f in files:
        t = pq.read_table(f, columns=["n_tok", "source"])
        rows += t.num_rows
        for s, n in zip(t.column("source").to_pylist(),
                        t.column("n_tok").to_pylist()):
            by_source[s] = by_source.get(s, 0) + n
            tokens += n
    return {"rows": rows, "tokens": tokens, "by_source": by_source}


def ensure(work: str, workload: str, seed: int, procs: int) -> dict:
    """Generate (or reuse) the inputs of one workload and seed.

    Returns {"dir", "base", "append", "warm", "base_totals",
    "append_totals"}; ``base``/``append``/``warm`` are sorted file lists.
    """
    cfg = WORKLOADS[workload]
    # the shape is part of the key, so a cache made under other sizes is
    # never reused
    shape = (f"b{cfg['base_files']}x{cfg['base_docs']}-"
             f"a{APPEND_FILES}x{APPEND_DOCS}-w{WARM_DOCS}")
    root = os.path.join(work, "inputs", f"{workload}-{shape}-s{seed}")
    marker = os.path.join(root, "inputs.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return json.load(fh)
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("base", "append", "warm"):
        os.makedirs(os.path.join(root, sub))
    base_docs = cfg["base_docs"]
    jobs = []
    # one generator stream per file, all derived from --seed; doc ids never
    # collide across files, so the append gate can test for duplicates
    for i in range(cfg["base_files"]):
        jobs.append((os.path.join(root, "base", f"part-{i:05d}.parquet"),
                     base_docs, seed * 1000 + i, i * base_docs))
    start = cfg["base_files"] * base_docs
    for i in range(APPEND_FILES):
        jobs.append((os.path.join(root, "append", f"add-{i:05d}.parquet"),
                     APPEND_DOCS, seed * 1000 + 500 + i,
                     start + i * APPEND_DOCS))
    jobs.append((os.path.join(root, "warm", "part-00000.parquet"),
                 WARM_DOCS, seed * 1000 + 999, 10**9))
    # plain child interpreters (no multiprocessing pool, whose resource
    # tracker would outlive the generation)
    children = [subprocess.Popen([sys.executable, os.path.abspath(__file__)],
                                 stdin=subprocess.PIPE, text=True)
                for _ in range(max(1, procs))]
    for i, child in enumerate(children):
        child.stdin.write(json.dumps(jobs[i::len(children)]))
        child.stdin.close()
    if any([child.wait() != 0 for child in children]):  # wait for all
        raise RuntimeError("input generation failed")
    info = {"dir": root}
    for sub in ("base", "append", "warm"):
        d = os.path.join(root, sub)
        info[sub] = sorted(os.path.join(d, f) for f in os.listdir(d))
    info["base_totals"] = _totals(info["base"])
    info["append_totals"] = _totals(info["append"])
    with open(marker + ".tmp", "w") as fh:
        json.dump(info, fh)
    os.replace(marker + ".tmp", marker)
    return info


def parquet_zstd_bytes(spark, info: dict, cores: int) -> int:
    """Bytes of Spark's zstd Parquet rewrite of the base table; computed
    once per input set and core count (the split layout follows the core
    count) and cached next to the inputs."""
    cache = os.path.join(info["dir"], f"parquet_zstd_{cores}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return int(json.load(fh)["bytes"])
    out = os.path.join(info["dir"], f"parquet_zstd_{cores}")
    shutil.rmtree(out, ignore_errors=True)
    (spark.read.parquet(*info["base"]).write
     .option("compression", "zstd").parquet(out))
    n = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
            if f.startswith("part-") and f.endswith(".parquet"))
    shutil.rmtree(out)
    with open(cache + ".tmp", "w") as fh:
        json.dump({"bytes": n}, fh)
    os.replace(cache + ".tmp", cache)
    return n


if __name__ == "__main__":
    # child of ensure(): generate the jobs given on stdin
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    for job in json.load(sys.stdin):
        _gen_one(*job)
