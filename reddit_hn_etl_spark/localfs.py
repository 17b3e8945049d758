"""Guard for the engine's local-filesystem swaps.

Several writers publish a directory by writing a new copy and renaming
it over the live one with ``os``/``shutil`` (`streaming/ingest.py`'s
index and state swaps, `sources/maintenance.py`'s compaction and
erasure). Those calls take ``s3://b/x`` for the relative local path
``s3:/b/x`` and would write there, so each such writer refuses a
``scheme://`` path before it writes anything.
"""

from __future__ import annotations

import re

_URI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def require_local(path: str, what: str) -> None:
    """Raise ``ValueError`` naming ``path`` if it is a ``scheme://``
    URI; ``what`` names the kind of dir in the message."""
    if _URI.match(path):
        raise ValueError(
            f"{path!r} is a URI; {what} are swapped with local-filesystem "
            "renames and must be local paths"
        )
