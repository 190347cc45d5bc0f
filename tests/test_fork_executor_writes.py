"""Cooperative distributed writes through the BUFFERED store API on
executors (reference distributed.py / dask.py worker shape): a
ForkSession is pickled into Spark tasks, writes chunks with
set_chunk_bytes where NO SparkSession exists (the flush takes the
pure-pyarrow path), is pickled back, merged and committed once."""

from __future__ import annotations

import pickle

import pytest

from icechunk_spark.distributed import merge_sessions
from icechunk_spark.repo import Repository
from icechunk_spark.repo.format import RefError


def test_fork_buffered_writes_roundtrip_through_executors(spark, tmp_path):
    root = str(tmp_path / "repo")
    repo = Repository.create(spark, root)
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[16], chunk_shape=[4])
    w = repo.writable_session("main")
    blobs = [(i, pickle.dumps(w.fork())) for i in range(3)]

    def work(pair):
        import pickle as pkl

        idx, blob = pair
        f = pkl.loads(blob)
        # one native chunk (above the 512-byte inline threshold) and,
        # for worker 0, an extra inline chunk — both flush via pyarrow
        # when this fork is re-pickled (no SparkSession here)
        f.set_chunk_bytes("/a", str(idx), bytes([65 + idx]) * 1024)
        if idx == 0:
            f.set_chunk_bytes("/a", "3", b"tiny-inline")
        return pkl.dumps(f)

    returned = (
        spark.sparkContext.parallelize(blobs, len(blobs)).map(work).collect()
    )
    forks = [pickle.loads(b) for b in returned]
    # every executor-side write came back as staged parquet, no buffer
    for f in forks:
        assert not f._chunk_buffer
        assert f._staged
    merged = merge_sessions(forks)
    w.merge(merged)
    w.commit("executor-side buffered writes")

    ro = repo.readonly_session()
    for i in range(3):
        assert ro.get_chunk_bytes("/a", str(i)) == bytes([65 + i]) * 1024
    assert ro.get_chunk_bytes("/a", "3") == b"tiny-inline"


def test_lazy_session_refuses_sparkless_buffered_flush(spark, tmp_path, monkeypatch):
    """A non-eager (plain writable) session cannot stage without a
    driver — the sparkless path must refuse loudly, not drop writes."""
    root = str(tmp_path / "repo2")
    repo = Repository.create(spark, root)
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[4])
    w = repo.writable_session("main")
    w.set_chunk_bytes("/a", "0", b"x" * 1024)
    from pyspark.sql import SparkSession

    w._spark = None
    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    with pytest.raises(RefError, match="ForkSession"):
        w._flush_chunk_buffer()


def test_fork_node_ops_survive_pickle_and_merge(spark, tmp_path):
    """A fork's node-LEVEL ops (create_array / delete_node) must fold
    into the parent on merge, including across a pickle roundtrip
    (ADVICE r7: commit publishes the parent's node table, so dropped
    fork node ops left manifests referencing absent nodes)."""
    root = str(tmp_path / "repo_nodes")
    repo = Repository.create(spark, root)
    with repo.transaction(message="init") as s:
        s.create_array("/old", shape=[4], chunk_shape=[4])
    w = repo.writable_session("main")
    blob = pickle.dumps(w.fork())

    def work(b):
        import pickle as pkl

        f = pkl.loads(b)
        f.create_array("/new", shape=[8], chunk_shape=[4])
        f.set_chunk_bytes("/new", "0", b"N" * 1024)
        f.delete_node("/old")
        return pkl.dumps(f)

    returned = spark.sparkContext.parallelize([blob], 1).map(work).collect()
    fork = pickle.loads(returned[0])
    assert fork._node_ops  # survived the executor roundtrip
    w.merge(fork)
    sid = w.commit("fork node ops")

    ro = repo.readonly_session(snapshot_id=sid)
    nodes = ro.list_nodes()
    assert "/new" in nodes and "/old" not in nodes
    assert ro.get_chunk_bytes("/new", "0") == b"N" * 1024


def test_fork_merge_overlap_is_merge_order_wins(spark, tmp_path):
    """Two forks writing the SAME chunk: the changeset merged LAST
    overlays the earlier one (staging order becomes the intra-commit
    sub-sequence) — deterministic in the merge call's argument order,
    like the reference's changeset fold."""
    root = str(tmp_path / "repo3")
    repo = Repository.create(spark, root)
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[4], chunk_shape=[4])
    w = repo.writable_session("main")
    f1, f2 = w.fork(), w.fork()
    f1.set_chunk_bytes("/a", "0", b"F1" * 512)
    f2.set_chunk_bytes("/a", "0", b"F2" * 512)
    w.merge(f1, f2)
    w.commit("overlap")
    assert repo.readonly_session().get_chunk_bytes("/a", "0") == b"F2" * 512
    w2 = repo.writable_session("main")
    g1, g2 = w2.fork(), w2.fork()
    g1.set_chunk_bytes("/a", "0", b"G1" * 512)
    g2.set_chunk_bytes("/a", "0", b"G2" * 512)
    w2.merge(g2, g1)  # reversed order -> g1 wins
    w2.commit("overlap2")
    assert repo.readonly_session().get_chunk_bytes("/a", "0") == b"G1" * 512


def test_executor_fork_reads_its_own_staged_writes(spark, tmp_path):
    """A fork that staged writes in one task and travels to a second
    task must read them back there: the Spark-free point read overlays
    the fork's staged files on the base manifests (latest staging
    wins, tombstones hide)."""
    root = str(tmp_path / "repo_ryw")
    repo = Repository.create(spark, root)
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[16], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"B" * 1024)
        s.set_chunk_bytes("/a", "2", b"C" * 1024)
    blob = pickle.dumps(repo.writable_session("main").fork())

    def write(b):
        import pickle as pkl

        f = pkl.loads(b)
        f.set_chunk_bytes("/a", "1", b"S" * 1024)  # absent from the base
        f.delete_chunk("/a", "0")
        return pkl.dumps(f)  # flushes the buffer to a staged file

    def read(b):
        import pickle as pkl

        f = pkl.loads(b)
        return [f.get_chunk_bytes("/a", k) for k in ("0", "1", "2", "3")]

    sc = spark.sparkContext
    blob = sc.parallelize([blob], 1).map(write).collect()[0]
    got = sc.parallelize([blob], 1).map(read).collect()[0]
    assert got == [None, b"S" * 1024, b"C" * 1024, None]


def test_pyarrow_paths_take_the_filesystem_from_fsio(spark, tmp_path, monkeypatch):
    """Every pyarrow read and write of the bulk plane resolves its
    filesystem through ``fsio._fs_path``, so an ``s3a://`` data root
    (mapped there to pyarrow's ``s3://``) works on the Spark-free
    paths too.  A recorder backed by the local filesystem stands in
    for the object store."""
    import pyarrow.fs as pafs

    from icechunk_spark.repo import LocalFilesystemStorage, fsio
    from icechunk_spark.repo.manifests import manifest_arrow_schema
    from icechunk_spark.repo.session import _write_parquet_rows

    root = str(tmp_path / "repo_s3a")
    repo = Repository.create(spark, root)
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[8], chunk_shape=[4])
        s.set_chunk_bytes("/a", "0", b"N" * 1024)

    class S3aDataRoot(LocalFilesystemStorage):
        @property
        def data_root(self) -> str:
            return "s3a://bucket" + self.root

    seen: list[str] = []

    def recorder(path):
        assert path.startswith("s3a://bucket/"), path
        seen.append(path)
        return pafs.LocalFileSystem(), path[len("s3a://bucket") :]

    monkeypatch.setattr(fsio, "_fs_path", recorder)
    ro = Repository.open(spark, S3aDataRoot(root)).readonly_session()
    assert ro.get_chunk_bytes("/a", "0") == b"N" * 1024
    assert any("/manifests/" in p for p in seen)  # the manifest lookup
    assert any("/chunks/" in p for p in seen)  # the payload read
    out = "s3a://bucket" + str(tmp_path / "staged.parquet")
    tomb = {"node_id": "n", "chunk_key": "0", "op": "del", "seq": 0}
    _write_parquet_rows(out, [tomb], manifest_arrow_schema())
    assert seen[-1] == out
    assert (tmp_path / "staged.parquet" / "part-00000.parquet").exists()
