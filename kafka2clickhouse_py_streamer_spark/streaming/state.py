"""The batch-partitioned state protocol shared by every persisted
streaming operator (``corpus_stream``, ``sketch_stream``,
``asof_stream``).

Structured Streaming's ``foreachBatch`` is at-least-once: after a
restart from checkpoint the last uncommitted micro-batch is delivered
again with the same ``batch_id`` (the reference likewise commits Kafka
offsets only after the batch is written, main.py:525-526). Each
operator survives that replay the same way:

- :func:`write_batch` writes a table's rows for one micro-batch to its
  own ``batch_id=N`` partition under *dynamic* partition overwrite, as
  a per-write option, so a re-delivery replaces its own partition and
  the caller's session conf is left alone;
- :func:`read_prior` reads a state table without the current batch's
  partition, so a replay computes against the same prior state as the
  first delivery;
- :func:`compact` folds committed per-batch partitions into one
  ``batch_id=-1`` partition with the operator's own merge, through a
  crash-recoverable write-to-temp → marker → delete → rename swap.
"""

from __future__ import annotations

from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMPACTED_BATCH_ID = -1  # never collides with a real foreachBatch id

_TMP_NAME = ".compact_tmp"
_THROUGH_PREFIX = "_through_"


def write_batch(
    df: DataFrame, batch_id: int, path: str, by: tuple[str, ...] = ()
) -> None:
    """Write ``df`` as micro-batch ``batch_id`` of the table at ``path``,
    partitioned by ``by`` then ``batch_id``, replacing only the
    partitions this batch writes."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*by, "batch_id")
        .parquet(path)
    )


def read_prior(spark, path: str, batch_id: int) -> DataFrame | None:
    """Read the persisted state EXCLUDING the current batch's
    partition. Returns None ONLY when the state path does not exist
    yet (the first batch). A bare ``except AnalysisException`` would
    also swallow schema errors — a state dir misconfigured to point at
    a DIFFERENT operator's state table would then silently degrade
    every batch to first-batch behavior and re-admit duplicates — so
    the guard is scoped to the missing-path error class and any other
    failure propagates."""
    try:
        df = spark.read.parquet(path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in (exc.getCondition() or str(exc)):
            return None
        raise
    return df.filter(F.col("batch_id") != F.lit(batch_id))


class CompactionCrash(RuntimeError):
    """Raised by :func:`compact`'s fault-injection seam — a
    deterministic stand-in for the process dying at a chosen point of
    the swap, so a soak (tools/streaming_soak.py) can kill a compaction
    mid-fold against LIVE stream state and prove recovery."""


def _fs(spark, path: str):
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, root.getFileSystem(spark._jsc.hadoopConfiguration()), root


def _partitions(fs, root, through_batch: int) -> list:
    """The per-batch ``batch_id=`` partition paths a fold through
    ``through_batch`` covers (the compacted one excluded)."""
    parts = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        bid = int(name.split("=", 1)[1])
        if bid != COMPACTED_BATCH_ID and bid <= through_batch:
            parts.append(st.getPath())
    return parts


def _recover_compaction(spark, path: str) -> str | None:
    """Repair a compaction interrupted mid-swap. The temp fold dir
    carries a ``_through_<N>`` marker written only AFTER the fold is
    completely materialized, so recovery is unambiguous:

    - marker present → roll FORWARD: the temp holds the full fold, so
      delete whatever folded partitions remain and finish the rename;
    - marker absent → roll BACK: the fold never completed and no
      source partition was touched (deletes only happen after the
      marker) — drop the temp.

    Returns ``"forward"``, ``"back"`` or None (nothing to repair).
    Readers between the delete and the rename see missing state until
    recovery runs — the documented maintenance-window caveat."""
    jvm, fs, root = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path, _TMP_NAME)
    if not fs.exists(tmp):
        return None
    marks = [
        st.getPath().getName() for st in fs.listStatus(tmp)
        if st.getPath().getName().startswith(_THROUGH_PREFIX)
    ]
    if not marks:  # incomplete fold: sources untouched
        fs.delete(tmp, True)
        return "back"
    _swap_in(jvm, fs, path, tmp, _partitions(
        fs, root, int(marks[0][len(_THROUGH_PREFIX):])
    ))
    return "forward"


def _swap_in(jvm, fs, path: str, tmp, old_parts) -> None:
    """Replace ``old_parts`` and the compacted partition with ``tmp``."""
    target = jvm.org.apache.hadoop.fs.Path(
        path, f"batch_id={COMPACTED_BATCH_ID}"
    )
    for p in [*old_parts, target]:
        fs.delete(p, True)
    if not fs.rename(tmp, target):
        raise RuntimeError(f"compaction swap failed: {tmp} -> {target}")


def compact(
    spark,
    path: str,
    through_batch: int,
    fold: Callable[[DataFrame], DataFrame],
    _crash_point: str | None = None,
) -> int:
    """Fold the per-batch partitions up to ``through_batch`` (and any
    earlier compacted partition) into ONE ``batch_id=-1`` partition —
    the maintenance step that keeps a long-running stream's state from
    accreting one small partition per micro-batch (a year of 30 s
    batches is ~1M partitions; every state read then spends longer
    listing files than reading them).

    ``fold`` maps the folded rows (``batch_id`` dropped) to the
    compacted rows with the operator's own merge: ``DataFrame.distinct``
    for claim/digest sets, the sketch merges for summed or max-merged
    cells, the SCD frontier for as-of dimensions. Returns the number of
    per-batch partitions through ``through_batch`` folded away, by this
    call's fold or by the roll-forward of an interrupted swap it
    finished. When only the compacted partition remains, nothing is
    read or written.

    Safety contract:

    - ``COMPACTED_BATCH_ID`` (-1) never equals a real batch id, so
      :func:`read_prior` keeps treating compacted rows as prior state.
    - Only compact batches the stream's CHECKPOINT HAS COMMITTED: a
      replay re-delivers at most the batch after the last commit, and
      that batch's partition is untouched.
    - Run between micro-batches or while the stream is stopped. The
      swap is (1) materialize the fold to a dot-prefixed temp dir,
      invisible to parquet listings; (2) stamp it with
      ``_through_<N>``, the commit point; (3) delete the folded
      partitions; (4) rename the temp in. A crash before (2) touches
      nothing; after it, the next call's :func:`_recover_compaction`
      rolls the swap forward. ``_crash_point`` (``"before_marker"`` /
      ``"after_marker"``) raises :class:`CompactionCrash` there.
    """
    jvm, fs, root = _fs(spark, path)
    # recovery folds nothing new in, so every per-batch partition
    # listed here is removed by it or by the fold below
    n_folded = len(_partitions(fs, root, through_batch))
    _recover_compaction(spark, path)
    old_parts = _partitions(fs, root, through_batch)
    if not old_parts:
        return n_folded
    state = spark.read.parquet(path).filter(
        (F.col("batch_id") == COMPACTED_BATCH_ID)
        | (F.col("batch_id") <= through_batch)
    ).drop("batch_id")
    tmp = jvm.org.apache.hadoop.fs.Path(path, _TMP_NAME)
    fs.delete(tmp, True)
    fold(state).write.mode("overwrite").parquet(str(tmp))
    if _crash_point == "before_marker":
        raise CompactionCrash("injected crash before commit marker")
    marker = jvm.org.apache.hadoop.fs.Path(
        str(tmp), f"{_THROUGH_PREFIX}{through_batch}"
    )
    fs.create(marker, True).close()  # commit point
    if _crash_point == "after_marker":
        raise CompactionCrash("injected crash after commit marker")
    _swap_in(jvm, fs, path, tmp, old_parts)
    return n_folded
