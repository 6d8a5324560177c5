"""The operator registry's one scan path, :func:`scan`, and its
scale-adaptive fan-out (optimization guide §2.5 input skew, §6 input
split size).

The driver/test parquet files are written with ONE row group per file,
and a row group is the atomic split unit of a parquet scan: narrowing
``spark.sql.files.maxPartitionBytes`` cannot raise scan parallelism past
the row-group count, so the byte-range splits beyond the first carry no
rows.  Every query whose cost is per-row expression work ABOVE the scan
(shingling, MinHash signatures, token statistics, money rounding) then
runs that work on 1-6 cores of a local[32] session — measured as stages
stuck at ``(1 + 1) / 2`` tasks while 30 cores idle.

``fan_out`` fixes this without hurting the 100 TB case: it counts the
input's row groups from the parquet footers (driver-side metadata work,
the same cost class as Spark's own file listing) and only round-robin
repartitions up to the session's default parallelism when the scan is
provably narrower than the core count.  At production scale the input
carries thousands of row groups, the condition is false, and the frame
is returned unchanged — no extra Exchange.  The repartition itself
shuffles only the scanned bytes once (here: single-digit MB) and is
deterministic (Spark's sort-before-repartition covers retry stability).
"""

from __future__ import annotations

import functools
import glob
import os


def scan(spark, sf_dir: str, name: str, cols: list[str] | None = None,
         fan: bool = False):
    """Read table ``name`` (``{sf_dir}/{name}.parquet``) — the one scan
    path of the operator registry.  ``cols`` prunes the projection BEFORE
    any fan-out barrier: the checkpoint materializes every column it is
    given, so wide unused columns (e.g. events.props JSON) must not ride
    through it.  ``fan=True`` adds the scale-adaptive :func:`fan_out` for
    heavy per-row work above the scan.  Fan-out is a per-call-site
    choice: map-side-collapsing aggregates (dashboard_kpi,
    event_type_pivot) measured ~2x slower fanned."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if cols is not None:
        df = df.select(*cols)
    # module-global lookup, so a patched scanfan.fan_out sees every scan
    return fan_out(spark, df, path) if fan else df


@functools.cache
def _row_groups(path: str) -> int:
    """Total parquet row groups under ``path`` (file or directory).
    Footer metadata only — never reads row data.  Cached per path: the
    testdata inputs are immutable for a session, exactly like Spark's
    own file-index cache."""
    import pyarrow.parquet as pq

    files = (
        [path]
        if os.path.isfile(path)
        else sorted(glob.glob(os.path.join(path, "*.parquet")))
    )
    total = 0
    for f in files:
        try:
            total += pq.ParquetFile(f).metadata.num_row_groups
        except Exception:
            total += 1  # unreadable footer: assume one split, stay safe
    return total


def tasks(spark, python: bool = False) -> int:
    """The package's one task-count rule: one task per core
    (``defaultParallelism``), doubled for stages that run Python through
    ``map_rows``/``map_batches``.  Python rows vary in cost by orders of
    magnitude (a plain turn vs a page envelope), so a second wave lets
    the scheduler even out a slow task for ~50 ms of per-wave overhead.
    Every stage width the package sets explicitly comes from here; AQE
    coalesces other shuffles to the same one-task-per-core width
    (session.py, the ``minPartitionSize`` floor).  Their starting width,
    ``build_session``'s ``spark.sql.shuffle.partitions`` default, is still
    chosen in session.py."""
    cores = spark.sparkContext.defaultParallelism
    return 2 * cores if python else cores


def files(spark, nbytes: int) -> int:
    """The package's one file-count rule, beside :func:`tasks`: one
    output file per read split, ``ceil(nbytes /
    spark.sql.files.maxPartitionBytes)`` and at least one, so a reader
    never packs several of our files into one split (Iceberg's
    ``write.target-file-size-bytes``, with the read split as target).
    ``nbytes`` is what the written frame holds: its cached bytes, or
    the on-disk bytes of the files it rewrites."""
    # Spark's own parse of the byte-string conf ("128m", "4m")
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return max(1, -(-nbytes // split))


def fan_out(spark, df, path: str):
    """Repartition ``df`` to one task per core (:func:`tasks`) iff the
    parquet input at ``path`` has fewer row groups than cores (the scan
    cannot reach core-count parallelism on its own).  Identity at scale.

    The repartitioned frame is ALSO localCheckpoint()ed: Catalyst pushes
    deterministic filters below a repartition, so a downstream filter on
    a derived column (``score > 0``, ``size(shingles) > 0``) would
    otherwise re-derive the whole expression on the unsplit 1-2-task
    scan — exactly the serialization the fan-out exists to remove.  The
    checkpoint is a plan barrier that keeps every derived expression
    above the 32-way partitioning, and multi-branch queries read the
    materialized input instead of re-scanning.  At production scale the
    branch is not taken, so parquet filter/column pushdown is untouched
    where it actually matters."""
    cores = tasks(spark)
    if _row_groups(path) >= cores:
        return df
    return df.repartition(cores).localCheckpoint()
