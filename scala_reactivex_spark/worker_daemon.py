"""The engine's Python worker daemon: pyspark's daemon, minus the jar on
``sys.path``.

Spark puts the spark-core jar on every Python worker's path (thousands of
entries, no ``.py`` file in them).  pyspark calls
``importlib.invalidate_caches()`` at the start of every task, and on
Python 3.11 that makes each cached zipimporter re-read its archive's
directory: the jar's twice, once for the jar and once for ``jar/org``.
This module drops the ``.jar`` entries from ``sys.path`` and their
``sys.path_importer_cache`` entries, then runs ``pyspark.daemon.manager()``
unchanged; the workers it forks inherit the trimmed path.

:func:`scala_reactivex_spark.session.get_spark` selects it with
``spark.python.daemon.module``.  Workers already import the engine (they
unpickle its functions by reference), so selecting it puts nothing new on
the workers' path.
"""

from __future__ import annotations

import os
import sys


def _is_jar_entry(entry: str) -> bool:
    """A ``.jar`` path entry, or a path inside a jar (``x.jar/org``)."""
    return entry.endswith(".jar") or ".jar" + os.sep in entry


def drop_jars() -> None:
    """Remove jar entries from ``sys.path`` and ``sys.path_importer_cache``."""
    sys.path[:] = [p for p in sys.path if not _is_jar_entry(p)]
    for key in [k for k in sys.path_importer_cache if _is_jar_entry(k)]:
        del sys.path_importer_cache[key]


if __name__ == "__main__":
    drop_jars()
    from pyspark.daemon import manager

    manager()
