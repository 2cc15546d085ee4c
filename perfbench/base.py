"""The base index every run starts from, built once per checkout.

    python3 perfbench/base.py DEST

builds it into DEST, in a process and JVM of its own; ``ensure_base``
runs that when the checkout has no index for its current code yet. The
measured run then only copies it, so neither its JVM nor its driver
memory has seen the build.

The head is the base corpus; ``pins.json`` holds the pins taken before
and after one upsert of the base upsert rows, which ``rollback`` switches
between (see ``Run.run_mixed`` in ``run.py``).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

from spark_session import HERE, ROOT, WORK, start_spark, stop_spark

BASE_SEED = 7       # the base corpus is the same for every run seed
N_CONVS = 3000      # ~25.6k turns
UPSERT_TURNS = 24   # turns replaced by an upsert: ~0.1% of the corpus
EMPTY_ID = ("no-such-conversation", 0)


def base_path() -> str:
    """``.bench_work/base-<hash>``; the hash covers every source file of
    the engine and the benchmark files the build runs, so a code change
    gets its own index, and indexes of other code are kept."""
    h = hashlib.sha256()
    paths = [os.path.join(HERE, f) for f in ("base.py", "gen.py", "spark_session.py")]
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, "antidb_spark")):
        dirs.sort()
        paths += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
    for path in paths:
        with open(path, "rb") as fh:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0" + fh.read())
    return os.path.join(WORK, "base-" + h.hexdigest()[:16])


def ensure_base() -> tuple[str, float]:
    """Path of the checkout's base index, and the seconds spent building
    it now (0 when it existed)."""
    path = base_path()
    if os.path.isdir(path):
        return path, 0.0
    t = time.perf_counter()
    subprocess.run([sys.executable, os.path.abspath(__file__), path],
                   check=True, stdout=sys.stderr)
    return path, time.perf_counter() - t


def build(path: str) -> None:
    import gen
    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.schema import TRANSCRIPTS_SCHEMA

    corpus = gen.make_corpus(BASE_SEED, N_CONVS)
    rows = gen.upsert_rows(BASE_SEED, corpus, UPSERT_TURNS)
    spark = start_spark(traced=False)
    try:
        src = os.path.join(WORK, "base-input")
        shutil.rmtree(src, ignore_errors=True)
        corpus.write_parquet(src)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        b = IndexBuilder(spark, tmp)
        b.build(spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(src))
        # an empty tombstones table, so that the pin taken before the
        # upsert names every table the upsert commits
        b.delete_docs([EMPTY_ID])
        before = b.pin()
        b.upsert_docs(spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA))
        after = b.pin()
        b.rollback(before)
        with open(os.path.join(tmp, "pins.json"), "w") as fh:
            json.dump([before, after], fh)
        os.rename(tmp, path)
        shutil.rmtree(src, ignore_errors=True)
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    build(sys.argv[1])
