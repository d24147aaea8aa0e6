"""Setup-artifact idempotence: bench.py's accounting guard, at sf0.001.

bench.py rebuilds every at-rest artifact of ``SETUP_ARTIFACTS`` from
scratch, snapshots each artifact tree with ``_tree_sig``, and refuses the
run if a query pass changed one.  The catalog queries call the same
``ensure_*`` builders, so a builder that rewrites its own finished
output would trip that guard only after a full bench.  This test calls
each window/purge-log builder twice and fails in seconds instead.  The
PQ index and the media fingerprint stores have their own rebuild tests
(test_pq.py, test_media_fps.py)."""

from __future__ import annotations

import shutil

import pytest

import bench

SF = "/root/testdata/sf0.001"

LOG_ARTIFACTS = [
    entry for entry in bench.SETUP_ARTIFACTS
    if not entry[0].startswith(("pq_index", "media_fps"))
]


# bench.py order: the rebuilt log derives from the quarantine log
@pytest.mark.parametrize(
    "tag,dir_fn,build", LOG_ARTIFACTS, ids=[e[0] for e in LOG_ARTIFACTS]
)
def test_second_build_leaves_artifact_untouched(spark, tag, dir_fn, build):
    d = dir_fn(spark, SF)
    shutil.rmtree(d, ignore_errors=True)
    build(spark, SF)
    sig = bench._tree_sig(d)
    assert sig, f"{tag}: build left no files under {d}"
    build(spark, SF)
    assert bench._tree_sig(d) == sig, f"{tag}: second build rewrote {d}"
