"""Land files for a file-source stream in a fixed order without waiting.

Spark's file stream source takes new files in modification-time order. Tests
that land several batches before starting their stream stamp each batch with
an explicit mtime, a fixed gap after the newest file already landed, instead
of sleeping between writes until the filesystem clock has ticked. The order
is the same, and so are the gaps where a test reads the mtime as event time
(``read_warc_stream(with_ingest_ts=True)``).
"""

from __future__ import annotations

import os
from collections.abc import Callable


def _data_files(root: str) -> set[str]:
    # the file source skips _/. names (_SUCCESS, .crc, _temporary/)
    found = set()
    for d, dirs, names in os.walk(root):
        dirs[:] = [n for n in dirs if not n.startswith(("_", "."))]
        found.update(os.path.join(d, n) for n in names if not n.startswith(("_", ".")))
    return found


def land(root: str, write: Callable[[], object], gap: float = 1.0) -> None:
    """Run ``write``, which adds files under ``root``, and stamp the files it
    added with an mtime ``gap`` seconds after the newest one already there.
    The first batch keeps the mtime the write gave it."""
    before = _data_files(root)
    write()
    if not before:
        return
    t = max(os.stat(p).st_mtime for p in before) + gap
    for p in _data_files(root) - before:
        os.utime(p, (t, t))
