"""unraveldocs_spark — a PySpark-native re-implementation of the
UnravelDocs (Brints/unraveldocs-api) extraction core as a batch pipeline
over tables of multi-turn agent transcripts.

The package is organised Spark-first:

- ``semantics``  : pure-Python reference semantics (page assembly, page
                   selection, fence-strip, truncation, rollup ladder) — the
                   single source of truth shared by the fixture oracle and
                   the vectorized Spark extraction stage.
- ``sanitizer``  : jsoup-``clean``-equivalent HTML safelist sanitizer.
- ``domwalk``    : HTML detection heuristic + block/inline DOM walk emitting
                   normalized text + span offsets (+ link/text-density
                   boilerplate heuristics).
- ``oracle``     : single-threaded row-by-row oracle over transcripts rows.
- ``extract``    : the vectorized ``mapInArrow`` extraction stage.
- ``pipeline``   : end-to-end pipeline (salted repartition, stable ordering,
                   extraction, lineage, rollup).
- ``checkpoint`` : snapshot/resume protocol (Iceberg when available, atomic
                   parquet snapshots otherwise).
- ``generator``  : deterministic synthetic transcripts generator (seed=42).
- ``queries``    : the operator inventory (SURVEY.md §2) as DataFrame queries.
- ``dedup`` / ``similarity`` / ``textanalysis`` / ``multimodal`` :
                   training-data pipeline operators.
- ``zipguard``   : keeps Python workers from re-reading every zip on
                   ``sys.path`` before each task (installed only in tasks).
"""

from . import zipguard as _zipguard

__version__ = "0.1.0"

_zipguard.install_in_task()
