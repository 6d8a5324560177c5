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

The module is also the home of the registry's other physical
decisions.  :func:`materialize` is the package's one plan barrier (the
only ``localCheckpoint()``, which ``fan_out`` calls too), run under a job
description that names it.  :func:`rows` is the one table-size rule: band
shapes read a table's row count from the same footers ``fan_out`` opens,
so sizing a query costs no Spark job; :func:`column_max` reads a column's
maximum from the same footers' statistics.

One notion of a table version serves all of them: :func:`_version`, the
``(file, st_mtime_ns, st_size)`` of each parquet file of the input.  The
footers are read once per version, and so is the schema: ``scan`` hands
Spark a schema inferred once per session and table version
(:func:`_schema`), where ``spark.read.parquet(path)`` alone runs a
one-task schema-inference job on every call — as a catalog table keeps
its schema in metadata and never infers it.
"""

from __future__ import annotations

import functools
import glob
import os


def scan(spark, sf_dir: str, name: str, cols: list[str] | None = None,
         fan: bool = False):
    """Read table ``name`` (``{sf_dir}/{name}.parquet``) — the one scan
    path of the operator registry.  ``cols`` prunes the projection BEFORE
    any fan-out barrier: the barrier materializes every column it is
    given, so wide unused columns (e.g. events.props JSON) must not ride
    through it.  ``fan=True`` adds the scale-adaptive :func:`fan_out` for
    heavy per-row work above the scan.  Fan-out is a per-call-site
    choice: map-side-collapsing aggregates (dashboard_kpi,
    event_type_pivot) measured ~2x slower fanned."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_schema(spark, path, _version(path))).parquet(path)
    if cols is not None:
        df = df.select(*cols)
    # module-global lookup, so a patched scanfan.fan_out sees every scan
    return fan_out(spark, df, path) if fan else df


def _version(path: str) -> tuple[tuple[str, int, int], ...]:
    """The version of the parquet input at ``path`` (file or directory):
    ``(file, st_mtime_ns, st_size)`` of each of its parquet files, so an
    input rewritten in place is a new version, as Spark's own listing
    would see it.  Every per-table cache of this module keys on it."""
    files = (
        [path]
        if os.path.isfile(path)
        else sorted(glob.glob(os.path.join(path, "*.parquet")))
    )
    return tuple((f, (st := os.stat(f)).st_mtime_ns, st.st_size) for f in files)


@functools.cache
def _footer(path: str, mtime_ns: int, size: int):
    """One parquet file's footer metadata, or None when it is
    unreadable; read once per version of the file."""
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path).metadata
    except Exception:
        return None


def _footers(path: str) -> list:
    """The footer of each parquet file of the input at ``path``.  Footer
    metadata only — never reads row data."""
    return [_footer(*v) for v in _version(path)]


@functools.cache
def _schema(spark, path: str, version: tuple):
    """The schema Spark infers for the parquet input at ``path``, asked
    of Spark (``spark.read.parquet(path).schema``) once per session and
    per :func:`_version` of the input, so every later scan of that
    version runs no inference job.  Two threads racing on a cold key
    can at worst infer the same schema twice.  The cache keeps each
    session it served alive; a process builds one or two.

    Deriving the schema from the pyarrow footers instead would save the
    first job too, but Spark's parquet-to-Catalyst mapping is its own
    (INT96, the TIMESTAMP_NTZ inference conf, unsigned ints, legacy list
    layouts), and a mismatch would silently retype a column."""
    return spark.read.parquet(path).schema


def _table_footers(sf_dir: str, name: str) -> list:
    """The footers of table ``name``; ValueError when one is unreadable,
    since a size read from the others would be a guess."""
    footers = _footers(f"{sf_dir}/{name}.parquet")
    if None in footers:
        raise ValueError(f"unreadable parquet footer in table {name!r} under {sf_dir}")
    return footers


def rows(sf_dir: str, name: str) -> int:
    """The package's one table-size rule: the row count of table
    ``name``, summed from its parquet footers.  It is the number
    ``scan(spark, sf_dir, name).count()`` returns, exactly, without a
    Spark job; band shapes size themselves from it."""
    return sum(m.num_rows for m in _table_footers(sf_dir, name))


def column_max(sf_dir: str, name: str, column: str):
    """``MAX(column)`` of table ``name``, read from the column statistics
    of its parquet footers instead of a Spark job.  Raises ValueError
    when a row group lacks the statistic, as :func:`rows` does for an
    unreadable footer: no guess."""
    maxes = []
    for m in _table_footers(sf_dir, name):
        for i in range(m.num_row_groups):
            rg = m.row_group(i)
            stats = next(
                (c.statistics for c in map(rg.column, range(rg.num_columns))
                 if c.path_in_schema == column),
                None,
            )
            if stats is None or not stats.has_min_max:
                raise ValueError(
                    f"no max statistic for {name}.{column} under {sf_dir}")
            maxes.append(stats.max)
    if not maxes:
        raise ValueError(f"no row groups in table {name!r} under {sf_dir}")
    return max(maxes)


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


def materialize(df, label: str):
    """The package's one plan barrier: ``df.localCheckpoint()``, run
    eagerly under the job description ``materialize:<label>``.  A
    description the caller set (``tools/measure.py`` sets
    ``measure:<query>``) is kept in front of it and restored afterwards,
    so every barrier job names its query and what it materialized.

    Query code cuts a plan here where it must: a fan-out repartition
    (:func:`fan_out`), a table several branches read (signature tables,
    per-doc stats), and each round of an iterative algorithm.  Only
    local checkpoints exist today; a reliable checkpoint for a cluster
    would be chosen here, for every barrier at once.

    ``pipeline.run_extraction``'s ``persist()``/``count()`` is not a
    barrier of this kind and does not come here: its coalesce reads the
    cached frame's exact byte stats, and its plan test pins the Coalesce
    over the ``InMemoryTableScan``."""
    sc = df.sparkSession.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(" ".join(filter(None, (caller, f"materialize:{label}"))))
    try:
        return df.localCheckpoint()
    finally:
        sc.setJobDescription(caller)


def fan_out(spark, df, path: str):
    """Repartition ``df`` to one task per core (:func:`tasks`) iff the
    parquet input at ``path`` has fewer row groups than cores (the scan
    cannot reach core-count parallelism on its own).  Identity at scale.

    The repartitioned frame is ALSO materialized (label
    ``fan_out:<table>``): Catalyst pushes deterministic filters below a
    repartition, so a downstream filter on a derived column
    (``score > 0``, ``size(shingles) > 0``) would otherwise re-derive the
    whole expression on the unsplit 1-2-task scan — exactly the
    serialization the fan-out exists to remove.  The barrier keeps every
    derived expression above the 32-way partitioning, and multi-branch
    queries read the materialized input instead of re-scanning.  At
    production scale the branch is not taken, so parquet filter/column
    pushdown is untouched where it actually matters."""
    cores = tasks(spark)
    # an unreadable footer counts as one split, the safe side
    if sum(m.num_row_groups if m else 1 for m in _footers(path)) >= cores:
        return df
    table = os.path.basename(path).removesuffix(".parquet")
    return materialize(df.repartition(cores), f"fan_out:{table}")
