"""Store/session API parity tests, named after the reference methods
they mirror (icechunk-python store.py: getsize:668, getsize_prefix:671,
array_chunk_iterator:278, set_virtual_refs_arr:421, clear:116;
session.py: chunk_coordinates:327, chunk_type:343, __getstate__:39)."""

from __future__ import annotations

import json
import pickle

import numpy as np
import pytest
from pyspark.sql import functions as F

from icechunk_spark.repo import Repository
from icechunk_spark.repo.session import ChunkType
from icechunk_spark.repo.store import ChunkStore


@pytest.fixture()
def repo(spark, tmp_path):
    return Repository.create(spark, str(tmp_path / "repo"))


@pytest.fixture()
def loaded(spark, repo, tmp_path):
    """Repo with one array holding native + inline + virtual chunks."""
    ext = tmp_path / "ext.bin"
    with open(ext, "wb") as f:
        f.write(np.arange(4, dtype="float64").tobytes())
    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[12], chunk_shape=[4])
        # native chunk (big payload, above the 512-byte inline threshold)
        s.set_chunk_bytes("/a", "0", b"x" * 1024)
        # inline chunk (small payload)
        s.set_chunk_bytes("/a", "1", b"tiny")
        # virtual chunk
        s.set_virtual_ref("/a", "2", str(ext), offset=0, length=32)
    return repo


def test_getsize(spark, loaded):
    store = ChunkStore(loaded.readonly_session())
    assert store.getsize("a/c/0") == 1024
    assert store.getsize("a/c/1") == 4
    assert store.getsize("a/c/2") == 32
    doc = store.get("a/zarr.json")
    assert store.getsize("a/zarr.json") == len(doc)


def test_getsize_prefix(spark, loaded):
    store = ChunkStore(loaded.readonly_session())
    chunks_total = 1024 + 4 + 32
    doc_len = store.getsize("a/zarr.json")
    assert store.getsize_prefix("a/c/") == chunks_total
    assert store.getsize_prefix("a") == chunks_total + doc_len
    # whole store includes the root group doc too
    assert store.getsize_prefix("") >= chunks_total + doc_len


def test_array_chunk_iterator(spark, loaded):
    store = ChunkStore(loaded.readonly_session())
    batches = list(store.array_chunk_iterator("/a"))
    assert len(batches) == 1
    coords, kinds, paths, offsets, lengths, inlined = batches[0]
    assert coords.shape == (3, 1) and coords.dtype == np.uint32
    by_coord = {int(coords[i][0]): i for i in range(3)}
    assert kinds[by_coord[0]] == int(ChunkType.native)
    assert kinds[by_coord[1]] == int(ChunkType.inline)
    assert kinds[by_coord[2]] == int(ChunkType.virtual)
    assert inlined[by_coord[1]] == b"tiny"
    assert lengths[by_coord[0]] == 1024
    assert lengths[by_coord[2]] == 32 and offsets[by_coord[2]] == 0
    assert paths[by_coord[2]].endswith("ext.bin")
    # batch_size splits batches
    assert len(list(store.array_chunk_iterator("/a", batch_size=2))) == 2


def test_chunk_coordinates(spark, loaded):
    sess = loaded.readonly_session()
    assert list(sess.chunk_coordinates("/a")) == [(0,), (1,), (2,)]


def test_chunk_type(spark, loaded):
    sess = loaded.readonly_session()
    assert sess.chunk_type("/a", [0]) is ChunkType.native
    assert sess.chunk_type("/a", [1]) is ChunkType.inline
    assert sess.chunk_type("/a", [2]) is ChunkType.virtual
    assert sess.chunk_type("/a", [3]) is ChunkType.uninitialized


def test_set_virtual_refs_arr(spark, repo, tmp_path):
    ext = tmp_path / "bulk.bin"
    with open(ext, "wb") as f:
        f.write(bytes(range(256)))
    with repo.transaction(message="bulk") as s:
        s.create_array("/b", shape=[4, 8], chunk_shape=[2, 2])
        store = ChunkStore(s)
        locations = [str(ext), "", str(ext), str(ext)]  # empty = skipped
        failed = store.set_virtual_refs_arr(
            "/b",
            (2, 2),
            locations,
            np.array([0, 0, 64, 128], dtype=np.uint64),
            np.array([32, 0, 32, 32], dtype=np.uint64),
        )
        assert failed is None
    sess = repo.readonly_session()
    assert sess.chunk_type("/b", [0, 0]) is ChunkType.virtual
    assert sess.chunk_type("/b", [0, 1]) is ChunkType.uninitialized  # skipped
    assert sess.chunk_type("/b", [1, 0]) is ChunkType.virtual
    assert sess.get_chunk_bytes("/b", "1.1") == bytes(range(128, 160))


def test_set_virtual_refs_arr_container_validation(spark, repo, tmp_path):
    repo.set_virtual_chunk_container("lake", "s3://allowed/")
    with repo.transaction(message="bulk") as s:
        s.create_array("/b", shape=[4], chunk_shape=[2])
        store = ChunkStore(s)
        failed = store.set_virtual_refs_arr(
            "/b",
            (2,),
            ["s3://allowed/x.bin", "s3://denied/y.bin"],
            np.array([0, 0], dtype=np.uint64),
            np.array([8, 8], dtype=np.uint64),
        )
        assert failed == [(1,)]


def test_clear(spark, loaded):
    s = loaded.writable_session()
    store = ChunkStore(s)
    store.clear()
    assert s.list_nodes() == {"/": "group"} or list(s.list_nodes()) == ["/"]


def test_readonly_session_pickles(spark, loaded):
    sess = loaded.readonly_session()
    blob = pickle.dumps(sess)
    back = pickle.loads(blob)
    assert back.read_only
    assert back.snapshot_id == sess.snapshot_id
    assert back.get_chunk_bytes("/a", "1") == b"tiny"


def test_writable_session_pickle_raises(spark, loaded):
    sess = loaded.writable_session()
    with pytest.raises(ValueError, match="fork"):
        pickle.dumps(sess)


def test_zarr_v3_metadata_docs(spark, loaded):
    """zarr.json documents are real Zarr v3 metadata (store.rs
    ArrayMetadata shape): zarr_format 3, node_type, regular chunk
    grid — and a v3 doc round-trips through set()."""
    store = ChunkStore(loaded.readonly_session())
    doc = json.loads(store.get("a/zarr.json"))
    assert doc["zarr_format"] == 3
    assert doc["node_type"] == "array"
    assert doc["shape"] == [12]
    assert doc["chunk_grid"] == {
        "name": "regular",
        "configuration": {"chunk_shape": [4]},
    }
    assert doc["data_type"] == "float64"
    root = json.loads(store.get("zarr.json"))
    assert root["node_type"] == "group" and root["zarr_format"] == 3

    w = loaded.writable_session()
    ChunkStore(w).set(
        "b/zarr.json",
        json.dumps(
            {
                "zarr_format": 3,
                "node_type": "array",
                "shape": [6],
                "data_type": "float32",
                "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [3]}},
                "fill_value": 1.5,
                "attributes": {"units": "K"},
            }
        ).encode(),
    )
    back = json.loads(ChunkStore(w).get("b/zarr.json"))
    assert back["data_type"] == "float32" and back["fill_value"] == 1.5
    assert back["attributes"] == {"units": "K"}


def test_dimension_names_roundtrip(spark, repo):
    """dimension_names persist through commit and appear in the v3 doc
    (store.rs ArrayMetadata.dimension_names)."""
    with repo.transaction(message="dims") as s:
        s.create_array(
            "/grid", shape=[4, 6], chunk_shape=[2, 3], dimension_names=["y", "x"]
        )
    doc = json.loads(ChunkStore(repo.readonly_session()).get("grid/zarr.json"))
    assert doc["dimension_names"] == ["y", "x"]
    # rank mismatch rejected
    w = repo.writable_session()
    with pytest.raises(ValueError, match="rank"):
        w.create_array("/bad", shape=[4], chunk_shape=[2], dimension_names=["a", "b"])


def test_set_partial_values(spark, repo):
    """Byte-range writes (reference store.py:587-602): multiple
    non-overlapping ranges per key splice into the buffered chunk;
    absent keys zero-extend; overlap raises; commit round-trips."""
    from icechunk_spark.repo.format import RefError

    with repo.transaction(message="v1") as s:
        s.create_array("/a", shape=[8], chunk_shape=[8])
        s.set_chunk_bytes("/a", "0", b"aaaaaaaa")
        store = ChunkStore(s)
        # two ranges on an existing key, one range creating a new chunk
        store.set_partial_values(
            [
                ("a/c/0", 0, b"XY"),
                ("a/c/0", 6, b"ZW"),
            ]
        )
        assert store.get("a/c/0") == b"XYaaaaZW"
        # absent key: zero-extended to cover the range
        s.create_array("/b", shape=[8], chunk_shape=[8])
        store.set_partial_values([("b/c/0", 3, b"Q")])
        assert store.get("b/c/0") == b"\x00\x00\x00Q"
        # overlapping ranges for the same key must be rejected
        with pytest.raises(RefError, match="overlap"):
            store.set_partial_values([("a/c/0", 0, b"1234"), ("a/c/0", 2, b"56")])
        with pytest.raises(RefError, match="negative"):
            store.set_partial_values([("a/c/0", -1, b"x")])
    # committed state reflects the splice (read-your-writes -> flush)
    ro = ChunkStore(repo.readonly_session())
    assert ro.get("a/c/0") == b"XYaaaaZW"
    assert ro.get("b/c/0") == b"\x00\x00\x00Q"
    # read-only store refuses
    with pytest.raises(Exception):
        ro.set_partial_values([("a/c/0", 0, b"n")])


def _job_ids(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn`` launches, via its own job group.  A
    fence job in a second group is waited for afterwards: job events
    reach the status tracker through the asynchronous listener bus, in
    order, so once the fence is visible every job of ``fn`` is too."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"point-reads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "point reads")
    try:
        fn()
    finally:
        sc.setJobGroup(f"{group}-fence", "fence")
        spark.range(1).collect()
        deadline = time.time() + 30
        while not sc.statusTracker().getJobIdsForGroup(f"{group}-fence"):
            assert time.time() < deadline, "fence job never reached the status tracker"
            time.sleep(0.05)
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _point_reads(sess, expect: dict) -> None:
    """get / exists / getsize / chunk_type for 1-d keys of /a, each
    checked against ``expect`` (key -> bytes, None = absent)."""
    from icechunk_spark.repo.format import RefError

    store = ChunkStore(sess)
    for key, want in expect.items():
        assert store.get(f"a/c/{key}") == want, key
        assert store.exists(f"a/c/{key}") == (want is not None), key
        if want is None:
            with pytest.raises(RefError):
                store.getsize(f"a/c/{key}")
            assert sess.chunk_type("/a", [int(key)]) is ChunkType.uninitialized
        else:
            assert store.getsize(f"a/c/{key}") == len(want), key
            assert sess.chunk_type("/a", [int(key)]) is not ChunkType.uninitialized


def test_point_reads_launch_no_spark_jobs(spark, loaded):
    """get / exists / getsize / chunk_type run no Spark job on a
    read-only session, on a writable one with only buffered changes,
    and on one with file-staged changes (a merged fork)."""
    ext = np.arange(4, dtype="float64").tobytes()
    base = {"0": b"x" * 1024, "1": b"tiny", "2": ext, "3": None}
    ro = loaded.readonly_session()
    assert _job_ids(spark, lambda: _point_reads(ro, base)) == []

    buffered = loaded.writable_session()
    buffered.set_chunk_bytes("/a", "3", b"b" * 2048)
    ChunkStore(buffered).delete("a/c/0")
    want = {**base, "0": None, "3": b"b" * 2048}
    assert _job_ids(spark, lambda: _point_reads(buffered, want)) == []

    staged = loaded.writable_session()
    fork = staged.fork()
    fork.set_chunk_bytes("/a", "3", b"f" * 2048)
    fork.delete_chunk("/a", "1")
    staged.merge(fork)  # flushes the fork to staged parquet files
    assert staged._staged and all(kind == "file" for kind, _ in staged._staged)
    want = {**base, "1": None, "3": b"f" * 2048}
    assert _job_ids(spark, lambda: _point_reads(staged, want)) == []


def test_lazy_staged_write_reads_its_own_writes(spark, loaded):
    """A session holding a lazy staged DataFrame (write_array_df) keeps
    the Spark resolve and sees its uncommitted chunk."""
    sess = loaded.writable_session()
    rows = spark.createDataFrame(
        [(i, float(i)) for i in range(4, 8)], "i0 long, value double"
    )
    sess.write_array_df("/a", rows)
    assert any(kind == "df" for kind, _ in sess._staged)
    want = np.arange(4, 8, dtype="float64").tobytes()
    store = ChunkStore(sess)
    assert store.get("a/c/1") == want
    assert store.getsize("a/c/1") == len(want)
    assert sess.chunk_type("/a", [1]) is ChunkType.native
    assert store.get("a/c/0") == b"x" * 1024
