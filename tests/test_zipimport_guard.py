"""The stat-keyed ``zipimporter.invalidate_caches`` guard installed at
package import: only on CPython < 3.12, and a failed archive read is
never pinned, so the next call reads the archive again; and every
Python UDF the package hands Spark installs it in the worker that
unpickles it."""

from __future__ import annotations

import inspect
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark import cloudpickle

import topnotch_spark  # noqa: F401  (installs the guard)
from tests.conftest import REPO
from topnotch_spark.operators import multimodal
from topnotch_spark.streaming import stateful

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


# ---------------------------------------------------------------------------
# The guard reaches Python workers through the UDFs the package hands Spark
# ---------------------------------------------------------------------------

# Each worker task unpickles its UDF and then runs pyspark's per-task
# importlib.invalidate_caches(); the guard is in place only if that
# unpickle imported this package, i.e. only if the UDF references a
# module-level topnotch_spark object (cloudpickle pickles those by
# reference and everything else by value).
_UNPICKLE = (
    "import pickle, sys, zipimport\n"
    "assert 'topnotch_spark' not in sys.modules\n"
    "pickle.loads(sys.stdin.buffer.read())\n"
    "print('topnotch_spark' in sys.modules, getattr("
    "zipimport.zipimporter.invalidate_caches, '_tn_stat_guard', False))\n"
)

STATEFUL = {
    "sessionize_stream": stateful.sessionize_stream,
    "transitions_stream": stateful.transitions_stream,
    "funnel_stream": lambda ev: stateful.funnel_stream(ev, ["view", "buy"]),
    "anomaly_stream": stateful.anomaly_stream,
    "ewma_stream": stateful.ewma_stream,
    "paths_stream": stateful.paths_stream,
}

MAP_IN_PANDAS = {
    "decode_media": multimodal.decode_media,
    "resize_images": lambda df: multimodal.resize_images(df, 4, 4),
    "sample_video_frames": multimodal.sample_video_frames,
    "perceptual_hash": multimodal.perceptual_hash,
    "video_frame_hashes": multimodal.video_frame_hashes,
    "audio_fingerprint": multimodal.audio_fingerprint,
    "byte_stats": multimodal.byte_stats,
}


def _calls(module, needle: str) -> set[str]:
    return {
        name
        for name, f in inspect.getmembers(module, inspect.isfunction)
        if f.__module__ == module.__name__ and needle in inspect.getsource(f)
    }


def test_every_udf_site_is_covered():
    assert _calls(stateful, "return _keyed_state(") == set(STATEFUL)
    assert _calls(multimodal, ".mapInPandas(") == set(MAP_IN_PANDAS)


@pytest.fixture(scope="module")
def pickled_udfs(spark):
    """name -> the cloudpickled UDF each operator hands Spark, captured
    at the API call (building the frames runs no Spark job)."""
    captured: dict[str, object] = {}

    def grab_state(self, func, *args, **kwargs):
        captured["udf"] = func
        return self._df

    def grab_map(self, func, *args, **kwargs):
        captured["udf"] = func
        return self

    events = spark.createDataFrame(
        [], "user_id long, ts timestamp, event_type string, "
        "event_id long, value double"
    )
    media = spark.createDataFrame([], "media_id long, content binary")
    out = {}
    with pytest.MonkeyPatch.context() as mp:
        # the session's concrete classes: classic DataFrame overrides
        # the base class's mapInPandas
        mp.setattr(type(events.groupBy("user_id")), "applyInPandasWithState", grab_state)
        mp.setattr(type(media), "mapInPandas", grab_map)
        for ops, df in ((STATEFUL, events), (MAP_IN_PANDAS, media)):
            for name, build in ops.items():
                captured.clear()
                build(df)
                out[name] = cloudpickle.dumps(captured["udf"])
    return out


@pytest.mark.parametrize("name", [*STATEFUL, *MAP_IN_PANDAS])
def test_unpickled_udf_installs_guard(pickled_udfs, name):
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    res = subprocess.run(
        [sys.executable, "-c", _UNPICKLE],
        input=pickled_udfs[name],
        capture_output=True,
        env=env,
        check=True,
    )
    imported, guarded = res.stdout.decode().split()
    assert imported == "True", f"{name}: unpickling does not import topnotch_spark"
    assert guarded == str(sys.version_info < (3, 12))
