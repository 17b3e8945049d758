"""The engine's local-filesystem write-then-swap, and its guard.

Several writers publish a directory by writing a new copy and renaming
it over the live one with ``os``/``shutil`` (`streaming/ingest.py`'s
index and state swaps, `sources/maintenance.py`'s compaction and
erasure), all through `write_swap`. Those calls take ``s3://b/x`` for
the relative local path ``s3:/b/x`` and would write there, so each such
writer refuses a ``scheme://`` path before it writes anything.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Sequence
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

_URI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def require_local(path: str, what: str) -> None:
    """Raise ``ValueError`` naming ``path`` if it is a ``scheme://``
    URI; ``what`` names the kind of dir in the message."""
    if _URI.match(path):
        raise ValueError(
            f"{path!r} is a URI; {what} are swapped with local-filesystem "
            "renames and must be local paths"
        )


def write_swap(
    df: DataFrame, live: str, suffix: str,
    partition_cols: Sequence[str] = (), before_swap=None,
) -> None:
    """Replace ``live`` by ``df``: write it to ``<live><suffix>``
    (hive-partitioned by ``partition_cols``), call
    ``before_swap(new_dir)`` if given, then promote the new dir with a
    two-rename swap.

    Stale artifacts of a crash (a half-written new dir, a ``<live>_old``
    left between the renames) are cleaned first, or the renames would
    raise. A crash between the renames leaves the old data at
    ``<live>_old`` and the new at ``<live><suffix>`` — never neither.
    Not atomic for concurrent readers (the mart path uses the
    versioned-pointer protocol in sources/publish.py for that): every
    caller is the single writer of ``live``, with readers only between
    its writes."""
    require_local(live, "published dirs")
    live = live.rstrip("/")
    new, old = live + suffix, live + "_old"
    shutil.rmtree(new, ignore_errors=True)
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(new)
    if before_swap is not None:
        before_swap(new)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(live):
        os.rename(live, old)
    os.rename(new, live)
    shutil.rmtree(old, ignore_errors=True)
