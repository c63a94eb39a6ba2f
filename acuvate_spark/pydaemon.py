"""PySpark's Python daemon, with zip importers that re-read an archive only
when it changed (``session.get_spark`` sets ``spark.python.daemon.module``).

PySpark starts every task with ``importlib.invalidate_caches()``; on CPython
< 3.12 each ``zipimporter`` then re-reads its archive's directory. Here one
re-reads only when the archive's (size, mtime) differs from the stamp taken
at its last read. Importing this module elsewhere changes nothing.
"""

if __name__ == "__main__":
    import os
    import zipimport

    def _invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stamp", None):
            _reread(self)
            self._stamp = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_caches

    from pyspark import daemon

    daemon.manager()
