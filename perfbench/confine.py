"""Keep every file the engine writes inside one work directory.

The engine's temporary files go to ``$TMPDIR`` (Python ``tempfile``),
``java.io.tmpdir``, ``$SPARK_LOCAL_DIRS`` and ``$SPARK_GRAFT_CKPT_DIR``
(streaming checkpoints); :func:`environ` points all of them into the
work directory. File-source streams stage a symlink to their input
table under a fixed ``/tmp`` path; :func:`stage_streams_in` redirects
that staging into the work directory too.
"""

from __future__ import annotations

import os


def environ(work: str, cpus: int, driver_mem: str) -> None:
    """Set the process environment before the JVM is launched."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "ckpt", "streams"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the engine's default checkpoint directory is on tmpfs, outside the
    # checkout; here checkpoints go to disk, which slows each stream query
    os.environ["SPARK_GRAFT_CKPT_DIR"] = os.path.join(work, "ckpt")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    # -XX:-UsePerfData: no hsperfdata file under the fixed /tmp path
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def stage_streams_in(work: str) -> None:
    """Stage file-source stream inputs as symlinks under ``work/streams``."""
    from raft_spark.queries import streaming_queries as sq

    def stage(sf_dir: str, table: str = "events") -> str:
        d = os.path.join(work, "streams", f"{os.path.basename(os.path.normpath(sf_dir))}_{table}")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, f"{table}.parquet")
        if not os.path.lexists(link):
            os.symlink(os.path.abspath(os.path.join(sf_dir, f"{table}.parquet")), link)
        return d

    if hasattr(sq, "_stage_events_dir"):
        sq._stage_events_dir = stage
    if hasattr(sq, "_stage_table_dir"):
        sq._stage_table_dir = stage
