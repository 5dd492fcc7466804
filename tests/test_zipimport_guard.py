"""The stat-keyed ``zipimporter.invalidate_caches`` guard installed at
package import: only on CPython < 3.12, and a failed archive read is
never pinned, so the next call reads the archive again."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pytest

import topnotch_spark  # noqa: F401  (installs the guard)

GUARDED = getattr(zipimport.zipimporter.invalidate_caches, "_tn_stat_guard", False)


def test_installed_only_before_312():
    assert GUARDED == (sys.version_info < (3, 12))


@pytest.mark.skipif(not GUARDED, reason="guard not installed on this CPython")
def test_failed_read_is_not_pinned(tmp_path):
    arc = tmp_path / "a.zip"
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("m.py", "x = 1\n")
    imp = zipimport.zipimporter(str(arc))
    imp.invalidate_caches()
    st = os.stat(arc)
    assert imp._tn_zipdir_key == (st.st_mtime_ns, st.st_size)

    arc.write_bytes(b"not a zip archive")
    imp.invalidate_caches()  # the read fails
    st = os.stat(arc)
    assert getattr(imp, "_tn_zipdir_key", None) != (st.st_mtime_ns, st.st_size)

    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("n.py", "y = 2\n")
    imp.invalidate_caches()
    st = os.stat(arc)
    assert imp._tn_zipdir_key == (st.st_mtime_ns, st.st_size)
    assert "n.py" in imp._files
