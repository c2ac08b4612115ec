"""Scale-adaptive shuffle sizing for small driver-synchronized batches.

A micro-batch / loop round far below the session's shuffle width gets few
partitions and no AQE (adaptive replanning costs an extra job per stage —
pure overhead when every shuffle is small by construction).  Big batches
keep the session settings untouched, AQE included — the bound derives
from the observed batch size, never from the local core count, so the
same code is right on a laptop and on a 1000-executor cluster.

Ownership contract (r10 #5, ADVICE r9): ``spark.sql.shuffle.partitions``
is SESSION-GLOBAL runtime conf, so the tuned width applies to every job
that runs while the block is open.  That is intended for the actions the
block's owner launches — including sibling-thread actions like
``incremental._run_concurrently``'s state/index publishes, which belong
to the same micro-batch and are exactly the shuffles being sized.  What
must NOT happen is two overlapping tuning blocks racing their enter/exit
conf writes (a stale width could be restored).  The guard below makes
any nested/overlapping entry on the same SparkContext a NO-OP: the
outer owner's width stays in force and is restored exactly once.  The
engine owns its session single-writer (one declared query at a time);
a multi-tenant session should scope widths per query instead.

Extracted from ``IncrementalIndexer._micro_batch_tuning`` (r5) so the
stateful screen loops can share the recipe.
"""

from __future__ import annotations

import contextlib
import threading

ROWS_PER_PARTITION = 50_000
MIN_PARTITIONS = 4

_GUARD = threading.Lock()
_ACTIVE_ATTR = "_hbis_tuning_active"


def _widths(conf, batch_rows: int) -> tuple[int, int] | None:
    """(session width, tuned width), or None when the block is a no-op."""
    try:
        sess_parts = int(conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return None
    parts = max(MIN_PARTITIONS,
                min(sess_parts, batch_rows // ROWS_PER_PARTITION))
    return None if parts >= sess_parts else (sess_parts, parts)


@contextlib.contextmanager
def small_batch_tuning(spark, batch_rows: int):
    """Context manager: inside the block, shuffles are sized to
    ``batch_rows`` (``rows // 50k`` clamped to ``[4, session setting]``)
    and AQE is off; both restored on exit.  A no-op when the batch
    already warrants the session width, when the session's width is not
    a plain integer (e.g. ``auto`` on platforms with adaptive defaults),
    or when another tuning block is already active on this context (see
    the ownership contract above).  Everything is decided on entry, not
    when the block is built."""
    conf = spark.conf
    if _widths(conf, batch_rows) is None:
        yield
        return
    sc = spark.sparkContext
    owner = False
    restore: dict[str, str] = {}
    try:
        with _GUARD:
            # a nested block is a no-op: the outer owner's width stays
            owner = not sc.__dict__.get(_ACTIVE_ATTR)
            if owner:
                sc.__dict__[_ACTIVE_ATTR] = True
        # re-read once this block owns the width: another block may have
        # closed since the check above, and only the owner's read is
        # guaranteed to see the session's own width
        widths = _widths(conf, batch_rows) if owner else None
        if widths is not None:
            sess_parts, parts = widths
            restore = {
                "spark.sql.adaptive.enabled":
                    conf.get("spark.sql.adaptive.enabled", "true"),
                "spark.sql.shuffle.partitions": str(sess_parts),
            }
            conf.set("spark.sql.adaptive.enabled", "false")
            conf.set("spark.sql.shuffle.partitions", str(parts))
        yield
    finally:
        if owner:
            try:
                for k, v in restore.items():
                    conf.set(k, v)
            finally:
                sc.__dict__[_ACTIVE_ATTR] = False
